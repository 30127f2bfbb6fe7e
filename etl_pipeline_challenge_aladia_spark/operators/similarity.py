"""Near-duplicate detection and similarity search (north-star scope).

Three tiers, chosen by scale:

- ``ngram_jaccard_pairs``: exact pairwise Jaccard within blocking groups.
  Quadratic in block size — the correctness baseline and fine when blocks
  are small (here: language).
- ``minhash_near_dup_pairs``: MinHash signatures + LSH banding. The 100 TB
  path: cost is linear in corpus size + candidate pairs, never all-pairs.
  Candidates are verified with exact Jaccard, so precision matches the
  brute-force baseline; banding parameters control recall.
- ``brute_force_topk`` / cosine: exact top-k neighbors for a small query
  set against a large candidate corpus — the query side broadcasts, the
  candidate scan stays distributed and never shuffles.

Determinism: MinHash permutations come from a fixed seed; token hashing
uses md5 (engine-independent) folded to 32 bits, so signatures are stable
across runs and engines.
"""

from __future__ import annotations

import hashlib
import math
import os
import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_pipeline_challenge_aladia_spark.functions import argmin_kernel as _K
from etl_pipeline_challenge_aladia_spark.functions.hashing import md5_fold32_col
from etl_pipeline_challenge_aladia_spark.functions.rounding import (
    avg_fixed_point,
    round_half_up,
)
from etl_pipeline_challenge_aladia_spark.functions.vectors import (
    cosine_similarity_col,
    to_double_array,
)
from etl_pipeline_challenge_aladia_spark.operators.text import shingles_col, tokens_col
from etl_pipeline_challenge_aladia_spark.sources.files import fan_out

_MERSENNE = 2_147_483_647  # 2^31 - 1


def jaccard_cols(a, b):
    """|A ∩ B| / |A ∪ B| for two array columns (distinct semantics)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def _pair_jaccard_verify(
    pairs: DataFrame,
    n: int,
    a_col: str,
    b_col: str,
    a_kind: str = "text",
    b_kind: str = "text",
) -> DataFrame:
    """Candidate-pair exact-Jaccard verification as ONE Arrow map stage
    (guide §4.2): input is the joined candidate frame
    ``(id_a, id_b, payload_a, payload_b)`` where a payload is either raw
    TEXT ('text': tokenize + n-gram shingle inside the kernel) or an
    already-distinct shingle ARRAY ('set'); output is
    ``(id_a, id_b, jaccard)`` with the engine-wide half-up rounding.

    Bit-exact twin of the Catalyst expression it replaces
    (``round_half_up(jaccard_cols(shingles_col(tokens_col(t), n), ...), 4)``):
    ``split(" ")`` keeps empty tokens, docs with fewer than ``n`` tokens
    have an EMPTY shingle set (explode-over-empty: such docs never reach a
    candidate join, but the kernel still mirrors the column's 0.0-on-empty
    contract), intersection/union are distinct-set sizes, the division is
    one IEEE double op and the rounding is floor(j*1e4+0.5)/1e4 — every
    step correctly rounded and identical in both engines. Shingle sets are
    memoized PER BATCH by doc id, so a hub document shared by many
    candidate pairs tokenizes once per batch instead of once per pair —
    the JVM expression paid the full tokenize+shingle+hash-set build per
    pair, which profiling shows dominating the verify stage."""
    id_a_t = pairs.schema[0].dataType.simpleString()
    id_b_t = pairs.schema[1].dataType.simpleString()

    def to_set_text(t):
        if t is None:
            return frozenset()
        words = t.split(" ")
        if len(words) < n:
            return frozenset()
        return frozenset(
            " ".join(words[j : j + n]) for j in range(len(words) - n + 1)
        )

    def fn(batches):
        import math

        import pyarrow as pa

        for b in batches:
            m = b.num_rows
            if m == 0:
                continue
            ida = b.column(0)
            idb = b.column(1)
            pa_col = b.column(2).to_pylist()
            pb_col = b.column(3).to_pylist()
            ida_py = ida.to_pylist()
            idb_py = idb.to_pylist()
            memo_a: dict = {}
            memo_b: dict = {}
            out = [0.0] * m
            for i in range(m):
                ka = ida_py[i]
                sa = memo_a.get(ka)
                if sa is None:
                    sa = (
                        to_set_text(pa_col[i])
                        if a_kind == "text"
                        else frozenset(pa_col[i])
                    )
                    memo_a[ka] = sa
                kb = idb_py[i]
                sb = memo_b.get(kb)
                if sb is None:
                    sb = (
                        to_set_text(pb_col[i])
                        if b_kind == "text"
                        else frozenset(pb_col[i])
                    )
                    memo_b[kb] = sb
                inter = len(sa & sb)
                uni = len(sa) + len(sb) - inter
                j = inter / uni if uni > 0 else 0.0
                out[i] = math.floor(j * 1.0e4 + 0.5) / 1.0e4
            yield pa.RecordBatch.from_arrays(
                [ida, idb, pa.array(out, type=pa.float64())],
                names=["_ia", "_ib", "jaccard"],
            )

    return pairs.mapInArrow(
        fn, f"_ia {id_a_t}, _ib {id_b_t}, jaccard double"
    ).select(
        F.col("_ia").alias(a_col),
        F.col("_ib").alias(b_col),
        "jaccard",
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = None,
    n: int = 3,
    threshold: float = 0.8,
    df_cap: int | None = None,
) -> DataFrame:
    """EXACT word-n-gram Jaccard near-dup pairs via an inverted shingle
    index — not all-pairs.

    For any threshold > 0 a qualifying pair must share at least one
    shingle, so the equi-join on shingle generates a candidate superset
    losslessly; the exact Jaccard then comes from set sizes alone
    (J = c / (|A| + |B| - c) with c = shared distinct shingles). Result is
    identical to the quadratic baseline, but the cost is the index join —
    proportional to shingle posting-list sizes, not corpus². At 100 TB the
    one caveat is ultra-frequent shingles (boilerplate) inflating posting
    lists; ``df_cap`` (same parameter as ``shared_span_pairs``) drops
    shingles with document frequency above the cap BEFORE set sizes and
    the join, making Jaccard exact over the non-hub shingle universe —
    pairs whose overlap is pure boilerplate disappear; true near-dups
    survive since their shared shingles are mostly non-hub. Default
    ``None`` keeps the full-universe EXACT semantics (the oracle shape).
    Optional ``block_col`` restricts pairs to equal blocks.
    """
    # fan_out BEFORE the shingle projection: the testdata parquet scans are
    # single-row-group (one task), so an expensive projection chained onto
    # the scan runs single-threaded — shuffle the skinny (id, text) rows
    # first and tokenize/shingle post-exchange across the cluster (guide
    # §2.5 input skew; on wide production scans fan_out is a no-op and the
    # projection stays on the scan exactly as before)
    base = fan_out(
        docs.select(
            F.col(id_col).alias("id"),
            *([F.col(block_col).alias("block")] if block_col else []),
            F.col(text_col).alias("_t"),
        )
    ).select(
        "id",
        *(["block"] if block_col else []),
        F.explode(
            F.array_distinct(shingles_col(tokens_col("_t"), n))
        ).alias("shingle"),
    )
    if df_cap is not None:
        rare = (
            base.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= df_cap)
            .select("shingle")
        )
        base = base.join(rare, "shingle")
    sizes = base.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = base.alias("a"), base.alias("b")
    cond = (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id"))
    if block_col:
        cond = cond & (F.col("a.block") == F.col("b.block"))
    common = (
        a.join(b, cond)
        .groupBy(F.col("a.id").alias("doc_id_a"), F.col("b.id").alias("doc_id_b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        common.join(sizes.select(F.col("id").alias("doc_id_a"), F.col("n_sh").alias("na")), "doc_id_a")
        .join(sizes.select(F.col("id").alias("doc_id_b"), F.col("n_sh").alias("nb")), "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            round_half_up(
                F.col("c") / (F.col("na") + F.col("nb") - F.col("c")), 4
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _perm_params(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE))
        for _ in range(num_perm)
    ]


def shingle_hash_col(sh) -> F.Column:
    """Engine-independent 32-bit shingle hash: first 8 hex chars of md5."""
    return md5_fold32_col(sh)


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    seed: int = 42,
) -> DataFrame:
    """doc -> array<long> MinHash signature of its n-gram shingle set.

    One explode + one groupBy: shuffle volume is (docs x shingles) hashed
    rows, independent of corpus pair count.

    Default implementation is an Arrow kernel (guide §4.2): tokenize,
    shingle, md5-fold and take all ``num_perm`` permutation minima per
    document INSIDE one map stage — no shingle explode (docs x shingles
    rows), no 64-column aggregate, no exchange at all. Exactness: the
    kernel reproduces the SQL column semantics operation for operation —
    ``split(" ")`` keeps empty tokens on both sides, docs with fewer
    than n tokens produce NO row (the explode-over-empty contract), md5
    is md5, and the (h*a+b) % 2147483647 lattice is exact int64 on both
    sides (max |h*a+b| < 2^63). ``SEMANTIC_ASSIGN_IMPL=sql`` keeps the
    explode + 64-min aggregate as the bit-equality reference
    (tests/test_assign_kernel_parity.py pins signature equality).
    """
    params = _perm_params(num_perm, seed)
    if _assign_impl() != "sql":
        import numpy as np

        src = fan_out(docs).select(
            F.col(id_col).alias("id"), F.col(text_col).alias("t")
        )
        id_t = src.schema["id"].dataType.simpleString()
        A = np.array([a for a, _ in params], dtype=np.int64)
        B = np.array([b for _, b in params], dtype=np.int64)

        def fn(batches):
            import hashlib

            import pyarrow as pa

            for batch in batches:
                texts = batch.column(1).to_pylist()
                keep = []
                sigs = []
                for i, t in enumerate(texts):
                    if t is None:
                        continue
                    words = t.split(" ")
                    if len(words) < n:
                        continue  # empty shingle set -> no signature row
                    sh = {
                        " ".join(words[j : j + n])
                        for j in range(len(words) - n + 1)
                    }
                    h = np.fromiter(
                        (
                            int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
                            for s in sh
                        ),
                        dtype=np.int64,
                        count=len(sh),
                    )
                    sigs.append(
                        ((h[:, None] * A[None, :] + B[None, :]) % _MERSENNE)
                        .min(axis=0)
                    )
                    keep.append(i)
                if not keep:
                    continue
                flat = np.concatenate(sigs)
                off = np.arange(0, (len(keep) + 1) * len(A), len(A), dtype=np.int32)
                yield pa.RecordBatch.from_arrays(
                    [
                        batch.column(0).take(pa.array(keep, type=pa.int32())),
                        pa.ListArray.from_arrays(
                            pa.array(off), pa.array(flat, type=pa.int64())
                        ),
                    ],
                    names=["id", "signature"],
                )

        return src.mapInArrow(fn, f"id {id_t}, signature array<long>")
    exploded = fan_out(docs).select(
        F.col(id_col).alias("id"),
        F.explode(shingles_col(tokens_col(text_col), n)).alias("sh"),
    ).withColumn("h", shingle_hash_col(F.col("sh")))
    mins = exploded.groupBy("id").agg(
        *[
            F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(_MERSENNE)).alias(f"m{j}")
            for j, (a, b) in enumerate(params)
        ]
    )
    return mins.select(
        "id", F.array(*[F.col(f"m{j}") for j in range(num_perm)]).alias("signature")
    )


def _band_rows(sigs: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """Signature -> one row per (id, band, band key). The band key is the
    EXACT concatenation of the band's signature slice (not a hash): no
    false candidates from key collisions, and the candidate set is
    engine-reproducible (the DuckDB oracle builds the same keys)."""
    rows_per_band = num_perm // bands
    return sigs.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        ",",
                        *[
                            F.col("signature")[b * rows_per_band + r].cast("string")
                            for r in range(rows_per_band)
                        ],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_hash"),
    )


def minhash_incremental_pairs(
    corpus: DataFrame,
    delta: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    seed: int = 42,
) -> DataFrame:
    """Incremental near-dup: each DELTA doc checked against the existing
    CORPUS — the daily-ingest dedup shape. Band rows are built for both
    sides, but candidates come ONLY from delta-vs-corpus bucket joins:
    query-time cost scales with the delta's shingles plus the bucket
    matches, never corpus x corpus (at 100 TB the corpus side is a
    precomputed, stored signature table — recompute here only because the
    fixture is small). Delta-internal duplicates are a separate
    ``minhash_near_dup_pairs`` call on the delta alone.

    Output: (delta_id, corpus_id, jaccard >= threshold), exact-Jaccard
    verified like the batch path.
    """
    corpus_bands = _band_rows(
        minhash_signatures(corpus, id_col, text_col, n, num_perm, seed),
        num_perm,
        bands,
    ).alias("x")
    delta_bands = _band_rows(
        minhash_signatures(delta, id_col, text_col, n, num_perm, seed),
        num_perm,
        bands,
    ).alias("y")
    candidates = (
        delta_bands.join(
            corpus_bands,
            (F.col("y.band") == F.col("x.band"))
            & (F.col("y.band_hash") == F.col("x.band_hash")),
        )
        .select(F.col("y.id").alias("delta_id"), F.col("x.id").alias("corpus_id"))
        .distinct()
    )
    # join TEXT and shingle AFTER the joins: only matched candidate rows
    # pay the shingle computation (see minhash_near_dup_pairs)
    t_c = corpus.select(
        F.col(id_col).alias("corpus_id"), F.col(text_col).alias("t_c")
    )
    t_d = delta.select(
        F.col(id_col).alias("delta_id"), F.col(text_col).alias("t_d")
    )
    joined = candidates.join(t_d, "delta_id").join(t_c, "corpus_id")
    if _assign_impl() != "sql":
        return _pair_jaccard_verify(
            joined.select("delta_id", "corpus_id", "t_d", "t_c"),
            n,
            "delta_id",
            "corpus_id",
        ).filter(F.col("jaccard") >= threshold)
    return (
        joined
        .select(
            "delta_id",
            "corpus_id",
            round_half_up(
                jaccard_cols(
                    shingles_col(tokens_col("t_d"), n),
                    shingles_col(tokens_col("t_c"), n),
                ),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def doc_signature_store(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """Precompute the STORED form of a corpus for incremental near-dup
    screening: (band index (id, band, band_hash), shingle sets
    (id, shingles)). This is what a 100-TB deployment persists instead
    of raw text — band rows for candidate generation, shingle sets for
    exact-Jaccard verification — so each ingest batch pays only its own
    text processing plus bucket matches (``minhash_pairs_from_store``);
    the corpus' shingling never re-runs."""
    band_rows = _band_rows(
        minhash_signatures(docs, id_col, text_col, n, num_perm, seed),
        num_perm,
        bands,
    )
    shingle_sets = docs.select(
        F.col(id_col).alias("id"),
        F.array_distinct(shingles_col(tokens_col(text_col), n)).alias(
            "shingles"
        ),
    )
    return band_rows, shingle_sets


def minhash_pairs_from_store(
    store_bands: DataFrame,
    store_shingles: DataFrame,
    delta: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    seed: int = 42,
) -> DataFrame:
    """Incremental near-dup against a PRECOMPUTED signature store
    (``doc_signature_store``): signatures + band rows are built for the
    DELTA only, candidates come from delta-band vs stored-band bucket
    joins, and exact-Jaccard verification compares the delta's shingles
    against the STORED shingle sets — the corpus' text is never touched
    (it need not even exist anymore). Output is identical to
    ``minhash_incremental_pairs(corpus, delta)`` when the store holds
    that corpus' precomputation: storage is a pure precompute, not an
    approximation (jaccard_cols is distinct-semantics, so stored
    deduped shingle arrays verify bit-identically).

    Output: (delta_id, corpus_id, jaccard >= threshold)."""
    delta_bands = _band_rows(
        minhash_signatures(delta, id_col, text_col, n, num_perm, seed),
        num_perm,
        bands,
    ).alias("y")
    cb = store_bands.alias("x")
    candidates = (
        delta_bands.join(
            cb,
            (F.col("y.band") == F.col("x.band"))
            & (F.col("y.band_hash") == F.col("x.band_hash")),
        )
        .select(F.col("y.id").alias("delta_id"), F.col("x.id").alias("corpus_id"))
        .distinct()
    )
    t_d = delta.select(
        F.col(id_col).alias("delta_id"), F.col(text_col).alias("t_d")
    )
    sh_c = store_shingles.select(
        F.col("id").alias("corpus_id"), F.col("shingles").alias("sh_c")
    )
    joined = candidates.join(t_d, "delta_id").join(sh_c, "corpus_id")
    if _assign_impl() != "sql":
        # delta side tokenizes in-kernel; the corpus side is the STORED
        # distinct shingle array (set semantics — jaccard_cols is
        # distinct-set either way, so the value is identical)
        return _pair_jaccard_verify(
            joined.select("delta_id", "corpus_id", "t_d", "sh_c"),
            n,
            "delta_id",
            "corpus_id",
            b_kind="set",
        ).filter(F.col("jaccard") >= threshold)
    return (
        joined
        .select(
            "delta_id",
            "corpus_id",
            round_half_up(
                jaccard_cols(
                    shingles_col(tokens_col("t_d"), n), F.col("sh_c")
                ),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    seed: int = 42,
) -> DataFrame:
    """LSH candidate generation + exact-Jaccard verification.

    bands=16 x rows=4 over 64 perms: P(candidate) = 1-(1-j^4)^16 — ~0.99+
    at j=0.8, steeply suppressing low-similarity pairs. Candidates then
    verify against exact shingle Jaccard so output precision is exact.
    """
    band_rows = _band_rows(
        minhash_signatures(docs, id_col, text_col, n, num_perm, seed),
        num_perm,
        bands,
    # the signature stage is a map-only kernel with no exchange, so the
    # self-join below would otherwise run it (tokenize + md5 + minima)
    # TWICE — a lazy local checkpoint materializes the skinny band rows
    # once per invocation and both join sides read the cache
    ).localCheckpoint(eager=False)
    left = band_rows.alias("x")
    right = band_rows.alias("y")
    candidates = (
        left.join(
            right,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.band_hash") == F.col("y.band_hash"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("doc_id_a"), F.col("y.id").alias("doc_id_b"))
        .distinct()
    )

    # join TEXT, shingle AFTER the joins: candidates are a vanishing
    # fraction of the corpus, so computing shingles post-join touches only
    # matched rows. Shingling before the join would tokenize the ENTIRE
    # corpus twice more (the projection sits below the join and Catalyst
    # never hoists expensive expressions above one).
    txt = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
    joined = candidates.join(
        txt.withColumnsRenamed({"id": "doc_id_a", "t": "t_a"}), "doc_id_a"
    ).join(txt.withColumnsRenamed({"id": "doc_id_b", "t": "t_b"}), "doc_id_b")
    if _assign_impl() != "sql":
        # per-pair tokenize+shingle+set-op fold -> one Arrow map stage
        # with per-batch doc memoization (guide §4.2; bit-exact contract
        # in _pair_jaccard_verify). SEMANTIC_ASSIGN_IMPL=sql keeps the
        # original expression plan as the bit-equality reference.
        return _pair_jaccard_verify(
            joined.select("doc_id_a", "doc_id_b", "t_a", "t_b"),
            n,
            "doc_id_a",
            "doc_id_b",
        ).filter(F.col("jaccard") >= threshold)
    verified = (
        joined
        .select(
            "doc_id_a",
            "doc_id_b",
            round_half_up(
                jaccard_cols(
                    shingles_col(tokens_col("t_a"), n),
                    shingles_col(tokens_col("t_b"), n),
                ),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k for each query vector.

    The query set broadcasts; candidates stream through a single
    stage (cross join + window). At cluster scale this is
    O(candidates x queries / executors) with no candidate shuffle until
    the final per-query top-k (tiny).
    """
    # fan_out BEFORE the per-(candidate, query) cosine work: a
    # single-row-group candidate scan would evaluate the whole
    # candidates x queries score matrix in ONE task (measured 2.9 s of a
    # 3.1 s query at sf0.1); no-op passthrough on wide production scans
    cand = fan_out(
        embeddings.select(
            F.col(id_col).alias("neighbor_id"),
            to_double_array(vec_col).alias("ce"),
        )
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"), to_double_array(vec_col).alias("qe")
    )
    scored = cand.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        round_half_up(cosine_similarity_col(F.col("qe"), F.col("ce")), 4).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rnk").cast("long").alias("rnk"))
    )


def simhash_col_agg(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    n: int = 3,
) -> DataFrame:
    """doc -> 32-bit SimHash of its distinct word-n-gram shingle set.

    Per bit j: sign of sum over shingles of ((hash >> j) & 1 ? +1 : -1);
    positive sums set the bit. One explode + one groupBy with 32 columnar
    sums — the same linear shuffle shape as MinHash. Features are n-gram
    shingles (not unigrams: on a shared-vocabulary corpus unigram sets
    barely differ between documents, collapsing all signatures together);
    shingle hashing uses the engine-independent md5-fold, so the DuckDB
    oracle reproduces signatures exactly.
    """
    exploded = fan_out(docs).select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(shingles_col(tokens_col(text_col), n))).alias("t"),
    ).withColumn("h", shingle_hash_col(F.col("t")))
    sums = exploded.groupBy("id").agg(
        *[
            F.sum(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"b{j}")
            for j in range(bits)
        ]
    )
    simhash = None
    for j in range(bits):
        term = F.when(F.col(f"b{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    return sums.select("id", simhash.cast("long").alias("simhash"))


def simhash64_col_agg(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """doc -> 64-bit SimHash of its distinct word-n-gram shingle set —
    the corpus-scale signature (``doc_simhash64_near_dup``): 32 bits of
    key space per block-combination table instead of 16, and a
    fingerprint whose own birthday bound outlives a 10^9-document
    corpus (the 32-bit signature of ``simhash_col_agg`` starts
    colliding whole UNRELATED documents past ~10^5).

    Bit source: bits 0-31 from the engine-independent md5-fold of the
    shingle, bits 32-63 from the same fold of the 'simhash64:'-salted
    shingle — two independent 32-bit hash functions, each bit an
    independent sign vote, which is exactly the simhash construction
    (and lets the DuckDB oracle replay all 64 bits with the same
    8-hex-digit fold it already uses). Bit 63 contributes -(2^63) so
    the packed value is the two's-complement long with that bit set —
    addition never overflows because contributions occupy disjoint
    bits. Same plan shape as the 32-bit aggregate: one explode + one
    groupBy with 64 columnar sums.
    """
    exploded = (
        fan_out(docs)
        .select(
            F.col(id_col).alias("id"),
            F.explode(
                F.array_distinct(shingles_col(tokens_col(text_col), n))
            ).alias("t"),
        )
        .withColumn("h1", shingle_hash_col(F.col("t")))
        .withColumn(
            "h2",
            shingle_hash_col(F.concat(F.lit("simhash64:"), F.col("t"))),
        )
    )
    sums = exploded.groupBy("id").agg(
        *[
            F.sum(
                F.shiftright(F.col("h1" if j < 32 else "h2"), j % 32)
                .bitwiseAND(F.lit(1))
                * 2
                - 1
            ).alias(f"b{j}")
            for j in range(64)
        ]
    )
    simhash = None
    for j in range(64):
        bit_value = -(2**63) if j == 63 else 2**j
        term = F.when(F.col(f"b{j}") > 0, F.lit(bit_value)).otherwise(
            F.lit(0)
        )
        simhash = term if simhash is None else simhash + term
    return sums.select("id", simhash.cast("long").alias("simhash"))


def simhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    blocks: int = 6,
    key_blocks: int = 3,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash LSH: block-combination candidate generation + exact
    Hamming verification (operators/hamming.py, Manku WWW'07 layout).

    Pigeonhole guarantee: a pair within Hamming distance d <= blocks -
    key_blocks has some key_blocks-sized subset of identical blocks, so
    its table catches it — recall is exactly 100%, not probabilistic.
    C(6,3) = 20 tables with 16-bit keys replace the old 4 disjoint
    8-bit bands, whose 256-value key space went quadratic from random
    collisions past a few hundred documents per band bucket; the
    verified output (the exact Hamming ball) is identical under either
    layout, so the swap is oracle-neutral. The join is linear in corpus
    size + bucket collisions (no all-pairs). The 64-bit signature
    (``simhash64_col_agg`` / doc_simhash64_near_dup) is the corpus-
    scale path: at 32 bits even a perfect layout caps keys at 16 bits.
    """
    from etl_pipeline_challenge_aladia_spark.operators.hamming import (
        hamming_block_pairs,
    )

    sigs = simhash_col_agg(docs, id_col, text_col, bits).localCheckpoint(
        eager=False
    )
    return hamming_block_pairs(
        sigs,
        id_col="id",
        sig_col="simhash",
        max_hamming=max_hamming,
        bits=bits,
        blocks=blocks,
        key_blocks=key_blocks,
    ).select(
        F.col("id_a").alias("doc_id_a"),
        F.col("id_b").alias("doc_id_b"),
        "hamming",
    )


def label_centroids(
    embeddings: DataFrame,
    dim: int | None = None,
    cell_col: str = "label",
    vec_col: str = "embedding",
    scale: int = 6,
) -> DataFrame:
    """Per-cell centroid as an array column via posexplode + one (cell, dim)
    aggregation, rebuilt into an array with a sorted collect.

    One compact two-column aggregation instead of ``dim`` separate avg
    expressions — a small expression tree for codegen regardless of
    dimension (``dim`` is therefore unused and kept only for signature
    stability). Components are rounded (half-up, ``scale`` decimals) so
    downstream ranking on centroid distances is stable across
    engines/summation orders. At 100 TB the cell id comes from a k-means
    coarse quantizer; here the ``label`` column stands in as the cell
    assignment.
    """
    e = embeddings.select(
        F.col(cell_col).alias("cell"),
        F.posexplode(to_double_array(vec_col)).alias("dim", "val"),
    )
    # order-independent mean: fixed-point int64 sum, not a raw double avg —
    # Spark's partial-agg fold and a sequential oracle fold would otherwise
    # disagree at half-up boundaries
    per_dim = e.groupBy("cell", "dim").agg(
        round_half_up(avg_fixed_point(F.col("val")), scale).alias("cv")
    )
    return per_dim.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "cv"))), lambda x: x["cv"]
        ).alias("centroid")
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    nprobe: int = 2,
    cell_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-style approximate nearest neighbors: coarse centroids -> probe the
    ``nprobe`` closest cells -> exact cosine rerank within probed cells.

    The scale path for ANN: the candidate scan touches only probed cells
    (partition pruning when the corpus is stored partitioned by cell), the
    centroid table is tiny and broadcast, and the final top-k is a per-query
    window over nprobe cells' worth of rows — never the full corpus.
    """
    cents = label_centroids(embeddings, dim, cell_col, vec_col)
    q = queries.select(
        F.col(query_id_col).alias("query_id"), to_double_array(vec_col).alias("qe")
    )
    probe_w = Window.partitionBy("query_id").orderBy(F.desc("cent_sim"), F.col("cell"))
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "qe",
            "cell",
            round_half_up(cosine_similarity_col(F.col("qe"), F.col("centroid")), 4).alias(
                "cent_sim"
            ),
        )
        .withColumn("probe_rnk", F.row_number().over(probe_w))
        .filter(F.col("probe_rnk") <= nprobe)
        .select("query_id", "qe", "cell")
    )
    cand = embeddings.select(
        F.col(cell_col).alias("cell"),
        F.col(id_col).alias("neighbor_id"),
        to_double_array(vec_col).alias("ce"),
    )
    scored = cand.join(F.broadcast(probes), "cell").select(
        "query_id",
        "neighbor_id",
        round_half_up(cosine_similarity_col(F.col("qe"), F.col("ce")), 4).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rnk").cast("long").alias("rnk"))
    )


def _tile_cell_blocks(tagged: DataFrame, block_cap: int) -> DataFrame:
    """Skew-bounding tiler for the per-cell GEMM: map a
    (id, v, cell, role) frame (role 0 = prober, 1 = member) to
    (id, v, cell, role, pblock, mblock) such that grouping by
    (cell, pblock, mblock) puts every (prober, member) pair of a cell
    in EXACTLY one tile with at most ``block_cap`` rows of each role —
    the distributed-GEMM tiling discipline applied to applyInPandas.

    Per-cell prober/member counts (a tiny two-column aggregate,
    broadcast) size the grid at ``ceil(n/cap)`` blocks per axis; each
    row's own block is its id-rank within the cell div cap (a
    deterministic HARD bound of cap rows per role per tile — hash
    blocking would only bound the expectation), probers replicating
    across the cell's mblocks and members across its pblocks. Cells
    within the cap get a 1x1 grid — identical grouping to the untiled
    plan, so results never depend on the cap; only the largest
    single-task matmul does (<= cap^2 scores), whatever the cell-size
    distribution. Exactly-once per pair: a prober lives in one pblock
    and appears once per mblock; a member lives in one mblock and
    appears once per pblock; the (pblock, mblock) pair is unique. The
    rank windows sort by cell — a skewed SORT spills and stays linear,
    unlike a skewed pandas group, which is the whole trade."""
    counts = (
        tagged.groupBy("cell")
        .agg(
            F.sum(F.when(F.col("role") == 0, 1).otherwise(0)).alias("n_p"),
            F.sum(F.when(F.col("role") == 1, 1).otherwise(0)).alias("n_m"),
        )
        .select(
            "cell",
            F.greatest(F.lit(1), F.ceil(F.col("n_p") / F.lit(block_cap)))
            .cast("int")
            .alias("nbp"),
            F.greatest(F.lit(1), F.ceil(F.col("n_m") / F.lit(block_cap)))
            .cast("int")
            .alias("nbm"),
        )
    )
    t = tagged.join(F.broadcast(counts), "cell")
    rank_w = Window.partitionBy("cell").orderBy("id")
    # own block BEFORE the explode — in one select the generator runs
    # first and the rank would count each replicated row. Rows whose own
    # axis fits the cap (nb == 1, the common case on balanced cells)
    # bypass the rank window entirely: block 0 by definition, no sort
    # paid unless a cell actually overflows.
    own_block = (
        ((F.row_number().over(rank_w) - 1) / F.lit(block_cap))
        .cast("int")
        .alias("own_block")
    )

    def one_role(role: int, own_nb: str, other_nb: str, own_name: str,
                 other_name: str) -> DataFrame:
        r = t.filter(F.col("role") == role)
        small = r.filter(F.col(own_nb) == 1).select(
            "id", "v", "cell", "role", other_nb,
            F.lit(0).alias("own_block"),
        )
        big = r.filter(F.col(own_nb) > 1).select(
            "id", "v", "cell", "role", other_nb, own_block
        )
        return small.unionByName(big).select(
            "id",
            "v",
            "cell",
            "role",
            F.col("own_block").alias(own_name),
            F.explode(F.sequence(F.lit(0), F.col(other_nb) - 1)).alias(
                other_name
            ),
        )

    probers = one_role(0, "nbp", "nbm", "pblock", "mblock")
    members = one_role(1, "nbm", "nbp", "mblock", "pblock")
    return probers.unionByName(
        members.select("id", "v", "cell", "role", "pblock", "mblock")
    )


def mutual_knn_ivf(
    embeddings: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    threshold: float = 0.30,
    cell_col: str | None = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_cap: int = 2048,
    iters: int = 3,
    route: str = "auto",
) -> DataFrame:
    """Reciprocal nearest neighbors on the IVF cell-routed candidate
    generator — the scale path ``emb_mutual_knn_pairs``' docstring
    promises: instead of the exact blocked-GEMM pair scan, each vector
    probes its ``nprobe`` nearest coarse cells (broadcast centroid
    table, rounded-cosine ranking with cell-id tie-break) and scores
    ONLY the members of probed cells. The mutual-top-k criterion is
    then identical to the exact operator: per-source rank (rounded
    cosine desc, neighbor-id tie-break) over candidates >= threshold,
    keep pairs where each side ranks in the other's top-k.

    Scale shape: one broadcast cross of centroids (cells-sized), one
    cell-keyed shuffle into a per-cell applyInPandas BLAS GEMM
    (probers x members; corpus partitioned by cell => partition
    pruning), and a per-source rank window bounded by nprobe cells'
    membership — never n^2. The GEMM is TILED against cell skew
    (``_tile_cell_blocks``): any cell larger than ``block_cap`` on
    either axis splits into id-rank blocks, probers replicating across
    member blocks and vice versa, so per-task work is HARD-capped at
    block_cap^2 scores even when one hot cell holds most of the corpus
    (real embedding corpora are skewed; an untiled hot cell is a
    single-task near-quadratic matmul that OOMs an executor at 100 TB).
    The tiling never changes results — every (prober, member) pair
    lands in exactly one tile — and within-cap cells keep the 1x1 grid.
    Each (src, dst) appears at most once because a candidate lives in
    exactly one cell and probed cells are distinct. What cell routing
    misses (reciprocal pairs split across unprobed cells) is measured
    by emb_mutual_knn_ivf_recall_audit.

    Rounding note (cross-engine parity): cosines are rounded half-up at
    4 dp AFTER a BLAS matmul, and BLAS summation order can differ from
    the oracle's list_cosine_similarity by a last ulp — a cosine landing
    within ~1 ulp of a .00005 boundary could round differently across
    engines (the cosine_pairs_blocked lesson). Current fixtures sit
    clear of boundaries (driver-verified); if a future fixture trips
    this, use compensated summation in the kernel, never a looser
    oracle.

    Output: (vec_id_a < vec_id_b, cos_sim, rank_ab, rank_ba) — the
    exact operator's schema, directly joinable against it.

    ``cell_col=None`` replaces the fixed label vocabulary with an
    AUTO-k k-means coarse quantizer (max(32, floor(sqrt(n/iters)))
    cells, deterministic ``kmeans_with_centroids``, flat/hier routing
    via ``resolve_semantic_route``) and probes the ``nprobe`` nearest
    cells by the SAME exact fixed-point distance the assignment uses
    (fx asc, cluster tie-break — rank-1 probe IS the assignment cell).
    This is the shipped scale path: a fixed cell vocabulary makes
    per-cell population grow linearly with the corpus, so the per-cell
    GEMM is Θ(n²/L) — measured SUPER-LINEAR (24x per 10x data) at the
    100x rung before this change (r13 catch, SCALING.md). With cells
    scaling as sqrt(n/iters), total candidate work is Θ(n^1.5) and the
    probe ranking pays one n x k flat pass — the measured semantic-
    family exponent. A column name keeps the vocabulary-celled
    behavior (bounded label alphabets, the recall-audit fixture).
    """
    if cell_col is None:
        n = embeddings.count()
        kq = max(32, min(max(n, 1), auto_semantic_k(n, iters)))
        route = resolve_semantic_route(
            route, n, spark=embeddings.sparkSession
        )
        raw = embeddings.select(
            F.col(id_col).alias("id"), to_double_array(vec_col).alias("v")
        )
        if _assign_impl() != "sql":
            # ONE fused map stage builds the whole tagged frame: the
            # frozen quantizer lands on the driver (the Lloyd loop's
            # centroid-table-bounded collects) and the kernel emits the
            # member row (assignment cell) plus the nprobe prober rows
            # per vector — no broadcast crossJoin of n x k candidate
            # rows, no rank window's exchange+sort over them, and no
            # assignment re-join (guide §2.4/§4.2; probe order contract
            # in _make_probe_tag_fn). SEMANTIC_ASSIGN_IMPL=sql keeps the
            # original window plan as the bit-equality reference.
            vecs = raw.select(F.lit(0).alias("grp"), "id", "v")
            cent_map, hier_plans = _lloyd_cent_map(
                vecs, kq, iters, scale=6, single_group=True, route=route
            )
            id_t = raw.schema["id"].dataType.simpleString()
            tagged = raw.mapInArrow(
                _make_probe_tag_fn(cent_map, hier_plans, nprobe),
                f"id {id_t}, v array<double>, cell int, role int",
            ).localCheckpoint(eager=False)
            return _mutual_from_tagged(tagged, k, threshold, block_cap)
        assigned, km_cents = kmeans_with_centroids(
            embeddings, k=kq, iters=iters, id_col=id_col, vec_col=vec_col,
            route=route,
        )
        # members carry their assignment cell; probes need only (id, v) —
        # keep the assignment join off the probe branch's lineage
        e = raw.join(
            assigned.select("id", F.col("cluster").alias("own_cell")), "id"
        )
        probe_w = Window.partitionBy("id").orderBy("fx", F.col("cell"))
        probes = (
            raw
            .crossJoin(
                F.broadcast(
                    km_cents.select(F.col("cluster").alias("cell"), "c")
                )
            )
            .select(
                "id",
                "v",
                "cell",
                _fx_sq_dist(F.col("v"), F.col("c"), None).alias("fx"),
            )
            .withColumn("pr", F.row_number().over(probe_w))
            .filter(F.col("pr") <= nprobe)
            .select("id", "v", "cell")
        )
    else:
        cents = label_centroids(embeddings, None, cell_col, vec_col)
        e = embeddings.select(
            F.col(id_col).alias("id"),
            F.col(cell_col).alias("own_cell"),
            to_double_array(vec_col).alias("v"),
        )
        probe_w = Window.partitionBy("id").orderBy(
            F.desc("cent_sim"), F.col("cell")
        )
        probes = (
            e.select("id", "v")
            .crossJoin(F.broadcast(cents))
            .select(
                "id",
                "v",
                "cell",
                round_half_up(
                    cosine_similarity_col(F.col("v"), F.col("centroid")), 4
                ).alias("cent_sim"),
            )
            .withColumn("pr", F.row_number().over(probe_w))
            .filter(F.col("pr") <= nprobe)
            .select("id", "v", "cell")
        )
    # Score candidates with a PER-TILE GEMM (applyInPandas), not a
    # per-pair column expression: each tile's (probers x members) dot
    # products run as one BLAS matmul — identical rounding/threshold to
    # cosine_pairs_blocked, and the same reason that kernel exists (a
    # corpus-sized candidate frame through an interpreted 64-dim cosine
    # expression is ~10x slower than the matmul at fixture scale and
    # worse at 100 TB). Probers and members union into one cell-keyed
    # shuffle; roles split inside the kernel; _tile_cell_blocks caps
    # any skewed cell at block_cap rows per role per task. tagged feeds
    # both the tiler's count aggregate and the scoring shuffle, so it
    # is materialized once (lazy localCheckpoint folded into the first
    # job) instead of re-running the probe window per consumer.
    tagged = (
        probes.select("id", "v", "cell", F.lit(0).alias("role"))
        .unionByName(
            e.select(
                "id",
                "v",
                F.col("own_cell").alias("cell"),
                F.lit(1).alias("role"),
            )
        )
        .localCheckpoint(eager=False)
    )
    return _mutual_from_tagged(tagged, k, threshold, block_cap)


def _mutual_from_tagged(
    tagged: DataFrame, k: int, threshold: float, block_cap: int
) -> DataFrame:
    """The scoring + mutuality tail of ``mutual_knn_ivf``, shared by the
    window-plan and fused-kernel tagged-frame builders: per-tile GEMM,
    per-source rank window, reciprocal-top-k join (contract in
    ``mutual_knn_ivf``'s docstring)."""
    import numpy as np
    import pandas as pd

    def score_cell(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "src": pd.Series(dtype="int64"),
                "dst": pd.Series(dtype="int64"),
                "cos_sim": pd.Series(dtype="float64"),
            }
        )
        p = pdf[pdf["role"] == 0]
        m = pdf[pdf["role"] == 1]
        if len(p) == 0 or len(m) == 0:
            return empty
        pa = np.stack(p["v"].to_numpy())
        mb = np.stack(m["v"].to_numpy())
        na = np.sqrt((pa * pa).sum(axis=1))
        nb = np.sqrt((mb * mb).sum(axis=1))
        denom = np.outer(na, nb)
        with np.errstate(divide="ignore", invalid="ignore"):
            sim = np.where(denom > 0, (pa @ mb.T) / denom, 0.0)
        sim = np.floor(sim * 1e4 + 0.5) / 1e4  # shared half-up rounding
        ia, ib = np.where(sim >= threshold)
        src = p["id"].to_numpy()[ia]
        dst = m["id"].to_numpy()[ib]
        keep = src != dst
        return pd.DataFrame(
            {"src": src[keep], "dst": dst[keep], "cos_sim": sim[ia, ib][keep]}
        )

    scored = (
        _tile_cell_blocks(tagged, block_cap)
        .groupBy("cell", "pblock", "mblock")
        .applyInPandas(score_cell, schema="src long, dst long, cos_sim double")
    )
    w = Window.partitionBy("src").orderBy(F.desc("cos_sim"), "dst")
    rk = scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= k
    ).localCheckpoint(eager=False)  # feeds both mutuality branches
    a = rk.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("vec_id_a"),
        F.col("dst").alias("vec_id_b"),
        "cos_sim",
        F.col("rnk").cast("long").alias("rank_ab"),
    )
    b = rk.filter(F.col("src") > F.col("dst")).select(
        F.col("dst").alias("vec_id_a"),
        F.col("src").alias("vec_id_b"),
        F.col("rnk").cast("long").alias("rank_ba"),
    )
    return a.join(b, ["vec_id_a", "vec_id_b"]).select(
        "vec_id_a", "vec_id_b", "cos_sim", "rank_ab", "rank_ba"
    )


def cosine_pairs(
    embeddings: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs cosine near-dup — the embedding twin of
    ``ngram_jaccard_pairs``: correctness baseline, quadratic by design.

    The scale path replaces the a<b self-join with sign-LSH banding or the
    IVF cell structure (``ivf_topk``): candidates only within matching
    buckets/cells, then the same exact-cosine verification. The threshold is
    corpus-tuned (near-dup corpora use ~0.95; this synthetic corpus has no
    planted duplicates, so the catalog query demonstrates the operator at
    the top of its observed similarity range).
    """
    e = embeddings.select(F.col(id_col).alias("id"), to_double_array(vec_col).alias("v"))
    a, b = fan_out(e).alias("a"), e.alias("b")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("vec_id_a"),
            F.col("b.id").alias("vec_id_b"),
            round_half_up(cosine_similarity_col(F.col("a.v"), F.col("b.v")), 4).alias(
                "cos_sim"
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def cosine_pairs_blocked(
    embeddings: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    blocks: int = 8,
) -> DataFrame:
    """Exact all-pairs cosine via a distributed blocked matrix product —
    result-identical to ``cosine_pairs`` (same rounding, same threshold
    semantics) but the O(N²·d) arithmetic runs as BLAS matmuls inside an
    Arrow-batched ``applyInPandas``, not per-pair expression evaluation.

    Rows are hashed into ``blocks`` buckets; each of the blocks·(blocks+1)/2
    bucket pairs becomes one task that multiplies its two sub-matrices.
    Fully distributed — no driver collect, no broadcast of the corpus; each
    row is replicated ``blocks`` times through one shuffle (the classic
    blocked-GEMM trade). Raise ``blocks`` with corpus size so sub-matrices
    stay in task memory: N²/blocks² pair-dot-products per task. Numeric ids
    are assumed (the output schema is long); ids order each emitted pair.
    """
    import numpy as np
    import pandas as pd

    e = embeddings.select(
        F.col(id_col).alias("id"),
        to_double_array(vec_col).alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(blocks)).cast("int").alias("blk"),
    )
    spark = embeddings.sparkSession
    block_pairs = spark.createDataFrame(
        [(i, j) for i in range(blocks) for j in range(i, blocks)], "ba int, bb int"
    )
    tagged = e.join(
        F.broadcast(block_pairs),
        (F.col("blk") == F.col("ba")) | (F.col("blk") == F.col("bb")),
    )

    def pair_block(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ba, bb = key
        empty = pd.DataFrame(
            {"vec_id_a": pd.Series(dtype="int64"),
             "vec_id_b": pd.Series(dtype="int64"),
             "cos_sim": pd.Series(dtype="float64")}
        )

        def matrix(rows: pd.DataFrame):
            if len(rows) == 0:
                return None, None, None
            m = np.stack(rows["v"].to_numpy())
            n = np.sqrt((m * m).sum(axis=1))
            return rows["id"].to_numpy(), m, n

        if ba == bb:
            ids, m, n = matrix(pdf)
            if ids is None or len(ids) < 2:
                return empty
            ids_a, ma, na = ids, m, n
            ids_b, mb, nb = ids, m, n
        else:
            ids_a, ma, na = matrix(pdf[pdf["blk"] == ba])
            ids_b, mb, nb = matrix(pdf[pdf["blk"] == bb])
            if ids_a is None or ids_b is None:
                return empty
        denom = np.outer(na, nb)
        with np.errstate(divide="ignore", invalid="ignore"):
            sim = np.where(denom > 0, (ma @ mb.T) / denom, 0.0)
        sim = np.floor(sim * 1e4 + 0.5) / 1e4  # shared half-up rounding
        ia, ib = np.where(sim >= threshold)
        a_ids, b_ids = ids_a[ia], ids_b[ib]
        keep = a_ids != b_ids
        a_ids, b_ids, vals = a_ids[keep], b_ids[keep], sim[ia, ib][keep]
        lo, hi = np.minimum(a_ids, b_ids), np.maximum(a_ids, b_ids)
        if ba == bb:  # each unordered pair appears twice in the square block
            keep2 = a_ids < b_ids
            lo, hi, vals = lo[keep2], hi[keep2], vals[keep2]
        return pd.DataFrame({"vec_id_a": lo, "vec_id_b": hi, "cos_sim": vals})

    return tagged.groupBy("ba", "bb").applyInPandas(
        pair_block, schema="vec_id_a long, vec_id_b long, cos_sim double"
    )


def kmeans_lite(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 6,
    route: str = "flat",
) -> DataFrame:
    """Deterministic Lloyd's k-means (fixed iterations) -> (id, cluster).

    The iterative-algorithm pattern at engine level: per round, assignment
    is a map-only stage against a BROADCAST centroid table (k x dim is
    tiny at any corpus scale), recompute is one posexplode + (cluster, dim)
    aggregation, and an eager localCheckpoint cuts the lineage so plan
    depth stays O(1) per round. Determinism: init = the k lowest-id
    vectors, centroid components rounded (half-up) each round, argmin ties
    broken by cluster index — so the result is reproducible run-to-run
    (this is the real coarse quantizer behind ivf_topk's ``label`` stand-in).
    """
    vecs = embeddings.select(
        F.lit(0).alias("grp"),
        F.col(id_col).alias("id"),
        to_double_array(vec_col).alias("v"),
    )
    return kmeans_lite_grouped(
        vecs, k=k, iters=iters, scale=scale, single_group=True, route=route
    ).select("id", "cluster", "dist_fx", "dist")


def _fx_sq_dist(v, c, dim: int | None):
    """EXACT int64 fixed-point squared distance between two array<double>
    columns: sum of floor((v_d - c_d)^2 * 1e8 + 0.5). With ``dim`` known
    the sum unrolls into a flat codegen'd chain — int64 addition is
    associative, so unrolled and folded values are identical to the bit;
    without it, the original zip_with/aggregate fold runs (interpreted)."""
    if dim is not None:
        from etl_pipeline_challenge_aladia_spark.functions.vectors import (
            _chain_sum,
        )

        return _chain_sum(
            [
                F.floor(
                    (v.getItem(d) - c.getItem(d))
                    * (v.getItem(d) - c.getItem(d))
                    * F.lit(100000000.0)
                    + F.lit(0.5)
                ).cast("long")
                for d in range(dim)
            ]
        )
    sq = F.zip_with(
        v,
        c,
        lambda a, b: F.floor(
            (a - b) * (a - b) * F.lit(100000000.0) + F.lit(0.5)
        ).cast("long"),
    )
    return F.aggregate(sq, F.lit(0).cast("long"), lambda acc, x: acc + x)


def kmeans_lite_grouped(
    vecs: DataFrame, k: int = 8, iters: int = 3, scale: int = 6,
    dim: int | None = None, single_group: bool = False,
    route: str = "flat",
) -> DataFrame:
    """Lloyd's k-means over MANY groups at once: ``vecs`` is (grp, id, v)
    and every group trains its own independent k centroids, but all groups
    share each round's jobs — one broadcast join, one argmin window, one
    (grp, cluster, dim) aggregation, one lineage checkpoint PER ROUND,
    regardless of group count. This is what lets product quantization train
    ``blocks`` codebooks for the price of one k-means, and at 100 TB it is
    the difference between ``blocks`` passes over the corpus per round and
    a single pass.

    Per-group semantics are identical to the single-group ``kmeans_lite``
    (the oracle unrolls per group unchanged): init = the k lowest-id
    vectors OF THE GROUP, fixed-point int64 distances (argmin is integer
    compare, ties to the lower cluster index), centroid components from
    the order-independent fixed-point mean, rounded half-up.
    """
    assigned, _ = _kmeans_rounds(
        vecs, k, iters, scale, dim, single_group=single_group, route=route
    )
    # dist_fx is the EXACT int64 fixed-point squared distance (1e-8 quanta)
    # — consumers needing exact integer aggregation use it directly instead
    # of round-tripping the double `dist` back through floor(x*1e8+0.5),
    # which silently breaks past ~2^52; `dist` is the human-scale view.
    return assigned.select(
        "grp",
        "id",
        "cluster",
        "dist_fx",
        (F.col("dist_fx").cast("double") / F.lit(100000000.0)).alias("dist"),
    )


def _argmin_assign(
    vecs: DataFrame, centroids: DataFrame, dim: int | None
) -> DataFrame:
    """Broadcast-join candidates + hash-aggregate argmin:
    ``min(struct(dist_fx, cluster))`` is lexicographic — minimum exact
    fixed-point distance, ties to the lower cluster index — the same
    contract as a (dist_fx, cluster)-ordered row_number window, but as a
    HASH AGGREGATE instead of a window SORT: the k candidate rows for
    each id sit in the exploding partition, so map-side partial
    aggregation collapses them locally and the exchange moves ~n rows,
    not n x k — at auto-k (k ~ sqrt n) the difference between a
    linear-in-corpus shuffle and an n^1.5 one. Distances stay codegen'd
    expressions (a packed-array fold argmin was measured 25-40% slower
    here: higher-order lambdas are interpreted per element).
    ``any_value(v)`` is deterministic-by-value: every candidate row of a
    group carries the identical source vector."""
    dist_fx = _fx_sq_dist(F.col("v"), F.col("c"), dim)
    return (
        vecs.join(F.broadcast(centroids), "grp")
        .select("grp", "id", "v", "cluster", dist_fx.alias("dist_fx"))
        .groupBy("grp", "id")
        .agg(
            F.min(F.struct("dist_fx", "cluster")).alias("_m"),
            F.any_value("v").alias("v"),
        )
        .select(
            "grp",
            "id",
            "v",
            F.col("_m.cluster").alias("cluster"),
            F.col("_m.dist_fx").alias("dist_fx"),
        )
    )


def _argmin_assign_hier(
    vecs: DataFrame,
    centroids: DataFrame,
    dim: int | None,
    k2: int,
    inner_iters: int = 2,
    scale: int = 6,
) -> DataFrame:
    """Two-level routed argmin — the IVF-of-IVF assignment layout for
    large k. Flat ``_argmin_assign`` evaluates n x k distances; at
    auto-k (k ~ sqrt n) that is Θ(n^1.5) compute. Here the centroid
    table itself is clustered into ``k2`` super-cells by a tiny inner
    k-means (k rows — negligible at any corpus scale), each vector
    routes to its nearest NON-EMPTY super-cell (n x k2 distances), and
    the exact argmin runs only against that super-cell's member
    centroids (~n x k/k2): with k2 = ceil(sqrt(k)) total distance work
    is ~2*n*sqrt(k) per round instead of n*k — at 10^9+ vectors the
    difference between a pass and a day.

    Deterministic end to end — the inner k-means reuses the exact
    fixed-point ``_kmeans_rounds`` contract (lowest-id init, int64
    distances, half-up centroid rounding, index tie-breaks), routing
    and member argmin reuse ``min(struct(dist_fx, idx))`` — so a SQL
    oracle unrolls BOTH levels and matches bit-for-bit. Assignment is
    approximate by design (the nearest centroid can live outside the
    routed super-cell — the standard IVF trade); the flat path remains
    the exact twin.

    Empty super-cells (an inner Lloyd cluster that lost all member
    centroids) are excluded from routing, so every routed vector finds
    at least one member candidate."""
    cvecs = centroids.select(
        "grp", F.col("cluster").alias("id"), F.col("c").alias("v")
    )
    member, supercents = _kmeans_rounds(
        cvecs, k2, inner_iters, scale, dim, single_group=True
    )
    # member: (id = centroid's cluster index, cluster = its super-cell)
    member_map = member.select(
        F.col("id").alias("cluster"), F.col("cluster").alias("supercell")
    ).localCheckpoint(eager=True)
    nonempty = (
        supercents.select(
            "grp", F.col("cluster").alias("supercell"), F.col("c").alias("sc")
        )
        .join(member_map.select("supercell").distinct(), "supercell")
        .select(
            "grp", F.col("supercell").alias("cluster"), F.col("sc").alias("c")
        )
    )
    routed = _argmin_assign(vecs, nonempty, dim).select(
        "grp", "id", "v", F.col("cluster").alias("supercell")
    )
    cmem = centroids.join(member_map, "cluster").select(
        "grp", "supercell", "cluster", "c"
    )
    dist_fx = _fx_sq_dist(F.col("v"), F.col("c"), dim)
    return (
        # broadcast hash join keyed on (grp, supercell): each vector row
        # probes only its super-cell's member centroids, so the distance
        # expression runs ~k/k2 times per vector, not k
        routed.join(F.broadcast(cmem), ["grp", "supercell"])
        .select("grp", "id", "v", "cluster", dist_fx.alias("dist_fx"))
        .groupBy("grp", "id")
        .agg(
            F.min(F.struct("dist_fx", "cluster")).alias("_m"),
            F.any_value("v").alias("v"),
        )
        .select(
            "grp",
            "id",
            "v",
            F.col("_m.cluster").alias("cluster"),
            F.col("_m.dist_fx").alias("dist_fx"),
        )
    )


#: Physical implementation of the fixed-point argmin assignment:
#: "arrow" (default) = the NumPy map-only kernel over Arrow batches
#: (guide §4.2 — vectorized native arithmetic; no candidate-row join,
#: no sort, no exchange in the assignment stage); "sql" = the original
#: broadcast-join + aggregate expression plan, kept as the bit-equality
#: reference and fallback. Both produce IDENTICAL rows (the kernel
#: reproduces every IEEE op — functions/argmin_kernel.py's exactness
#: contract; tests/test_assign_kernel_parity.py pins arrow == sql), so
#: the SQL oracles are untouched by the switch.
ASSIGN_IMPL_ENV = "SEMANTIC_ASSIGN_IMPL"


def _assign_impl() -> str:
    return os.environ.get(ASSIGN_IMPL_ENV, "arrow")


def _make_assign_fn(cent_map: dict, hier_plans: dict | None):
    """mapInArrow kernel: (grp, id, v) batches -> (grp, id, cluster,
    dist_fx). ``cent_map`` is {grp: (cluster ids asc, centroid matrix)};
    ``hier_plans`` (when routing two-level) is {grp: build_hier_plan(...)}.
    Pure per-row function of the frozen closure tables — deterministic
    under any batching, task retry and speculation."""

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            grp = b.column(0).to_numpy(zero_copy_only=False)
            labels = np.empty(n, dtype=np.int64)
            dists = np.empty(n, dtype=np.int64)
            for g in np.unique(grp):
                rows = np.where(grp == g)[0]
                V = _K.list_matrix(b.column(2), rows)
                gv = g.item() if hasattr(g, "item") else g
                if hier_plans is not None:
                    lab, dd = _K.hier_argmin(V, hier_plans[gv])
                else:
                    ids, C = cent_map[gv]
                    lab, dd = _K.argmin_cells(V, ids, C)
                labels[rows] = lab
                dists[rows] = dd
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(0),
                    b.column(1),
                    pa.array(labels.astype(np.int32), type=pa.int32()),
                    pa.array(dists, type=pa.int64()),
                ],
                names=["grp", "id", "cluster", "dist_fx"],
            )

    return fn


def _make_assign_v_fn(cent_map: dict, hier_plans: dict | None):
    """``_make_assign_fn`` that also ECHOES the vector: (grp, id, v)
    batches -> (id, cluster, v). Consumers that need (id, cluster, v) —
    the in-cell pair sweeps — previously joined the assignment back to
    the corpus (two exchange sides or a broadcast build per invocation);
    echoing v from the same map stage removes that join outright. Same
    argmin/tie-break contract as ``_make_assign_fn``."""

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            grp = b.column(0).to_numpy(zero_copy_only=False)
            labels = np.empty(n, dtype=np.int64)
            for g in np.unique(grp):
                rows = np.where(grp == g)[0]
                V = _K.list_matrix(b.column(2), rows)
                gv = g.item() if hasattr(g, "item") else g
                if hier_plans is not None:
                    lab, _ = _K.hier_argmin(V, hier_plans[gv])
                else:
                    ids, C = cent_map[gv]
                    lab, _ = _K.argmin_cells(V, ids, C)
                labels[rows] = lab
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(1),
                    pa.array(labels.astype(np.int32), type=pa.int32()),
                    b.column(2),
                ],
                names=["id", "cluster", "v"],
            )

    return fn


def _make_probe_tag_fn(cent_map: dict, hier_plans: dict | None, nprobe: int):
    """mapInArrow kernel for ``mutual_knn_ivf``'s tagged frame: (id, v)
    batches -> (id, v, cell, role) with, per input row, ONE member row
    (role 1, cell = the k-means assignment — hier-routed when hier_plans
    is given, exactly like ``_make_assign_fn``) and ``nprobe`` prober
    rows (role 0, cells = the nprobe nearest centroids by the SAME exact
    fixed-point distance, ties to the lower cell id — the
    ``row_number() over (order by fx, cell) <= nprobe`` contract).

    Replaces a broadcast crossJoin producing n x k candidate rows, a
    per-id rank window (exchange + sort over those n x k rows — at scale
    with auto-k that is n^1.5 rows through one shuffle) and the
    assignment re-join: the kernel emits exactly n x (nprobe + 1) rows
    map-side, and the only remaining exchange is the cell-keyed GEMM
    shuffle that was always needed. Single-group only (grp = 0)."""
    ids_c, C = cent_map[0]

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            V = _K.list_matrix(b.column(1))
            if hier_plans is not None:
                own, _ = _K.hier_argmin(V, hier_plans[0])
            else:
                own, _ = _K.argmin_cells(V, ids_c, C)
            # flat probe ranking over ALL cells (the SQL plan ranks the
            # full centroid table even under hier assignment): stable
            # argsort of the exact fx row = (fx asc, cell-id asc) since
            # centroid rows are sorted ascending by id
            k = max(1, C.shape[0])
            p = min(nprobe, k)
            step = max(1, _K.TILE_CELLS // k)
            probe = np.empty((n, p), dtype=np.int64)
            for s in range(0, n, step):
                e = min(n, s + step)
                D = _K.fx_sq_dists(V[s:e], C)
                order = np.argsort(D, axis=1, kind="stable")[:, :p]
                probe[s:e] = ids_c[order]
            # one member row + p prober rows per input row
            idx = np.repeat(np.arange(n, dtype=np.int64), p + 1)
            take = pa.array(idx, type=pa.int64())
            cells = np.empty((n, p + 1), dtype=np.int64)
            cells[:, 0] = own
            cells[:, 1:] = probe
            roles = np.zeros((n, p + 1), dtype=np.int64)
            roles[:, 0] = 1
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(0).take(take),
                    b.column(1).take(take),
                    pa.array(cells.ravel().astype(np.int32), type=pa.int32()),
                    pa.array(roles.ravel().astype(np.int32), type=pa.int32()),
                ],
                names=["id", "v", "cell", "role"],
            )

    return fn


def _make_partials_fn(cent_map: dict, hier_plans: dict | None):
    """mapInArrow kernel for the Lloyd RECOMPUTE rounds: assign each
    batch row, then emit only the exact per-(grp, cluster, dim) partial
    sums of the fixed-point mean — <= k x dim rows per batch instead of
    n assignment rows, so the recompute's exchange carries centroid-table
    bytes, never corpus bytes (the map-side-aggregation rule, guide §2.3,
    taken to its limit)."""

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            grp_t = b.schema.field(0).type
            grp = b.column(0).to_numpy(zero_copy_only=False)
            out = []
            for g in np.unique(grp):
                rows = np.where(grp == g)[0]
                V = _K.list_matrix(b.column(2), rows)
                gv = g.item() if hasattr(g, "item") else g
                if hier_plans is not None:
                    lab, _ = _K.hier_argmin(V, hier_plans[gv])
                else:
                    ids, C = cent_map[gv]
                    lab, _ = _K.argmin_cells(V, ids, C)
                present, sums, counts = _K.quant_sums(V, lab, quant_scale=6)
                p, d = sums.shape
                out.append(
                    (
                        np.full(p * d, gv),
                        np.repeat(present.astype(np.int32), d),
                        np.tile(np.arange(d, dtype=np.int32), p),
                        sums.ravel(),
                        np.repeat(counts, d),
                    )
                )
            if not out:
                continue
            gcol = np.concatenate([o[0] for o in out])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(gcol, type=grp_t),
                    pa.array(np.concatenate([o[1] for o in out]), type=pa.int32()),
                    pa.array(np.concatenate([o[2] for o in out]), type=pa.int32()),
                    pa.array(np.concatenate([o[3] for o in out]), type=pa.int64()),
                    pa.array(np.concatenate([o[4] for o in out]), type=pa.int64()),
                ],
                names=["grp", "cluster", "dim", "sfx", "cnt"],
            )

    return fn


def _hier_plans(cent_map: dict, k2: int, scale: int) -> dict:
    """Two-level routing tables per group, precomputed on the DRIVER from
    the collected centroid table: the inner quantizer of
    ``_argmin_assign_hier`` runs over k rows — metadata-sized at any
    corpus scale, so clustering it locally replaces the 3 scheduled
    inner-k-means jobs per outer round with microseconds (the same
    rationale as the union-find small-graph gate in operators/dedup.py)."""
    return {
        g: _K.build_hier_plan(ids, C, k2, scale=scale)
        for g, (ids, C) in cent_map.items()
    }


def _cent_map_from_partials(agg_rows, scale: int) -> dict:
    """New {grp: (cluster ids asc, centroid matrix)} from the exact
    partial sums: one ``centroid_component`` (= round_half_up(
    avg_fixed_point(val), scale)) per (grp, cluster, dim). Clusters with
    no members simply have no rows — they drop, exactly like the
    groupBy recompute."""
    import numpy as np

    comp: dict = {}
    for r in agg_rows:
        comp.setdefault((r["grp"], r["cluster"]), {})[r["dim"]] = (
            _K.centroid_component(r["sfx"], r["cnt"], 6, scale)
        )
    by_grp: dict = {}
    for (g, cl), dims in comp.items():
        vec = [dims[i] for i in range(len(dims))]
        by_grp.setdefault(g, []).append((cl, vec))
    out = {}
    for g, items in by_grp.items():
        items.sort(key=lambda t: t[0])
        out[g] = (
            np.array([t[0] for t in items], dtype=np.int64),
            np.array([t[1] for t in items], dtype=np.float64),
        )
    return out


def _centroids_df(spark, cent_map: dict, grp_type) -> DataFrame:
    """Rebuild the (grp, cluster, c) centroid DataFrame from the local
    map — same schema the SQL path's checkpointed table had, so every
    downstream consumer (stores, drift audits, frozen-index saves) is
    untouched."""
    from pyspark.sql import types as T

    rows = []
    for g in sorted(cent_map):
        ids, C = cent_map[g]
        for i in range(ids.shape[0]):
            rows.append((g, int(ids[i]), [float(x) for x in C[i]]))
    schema = T.StructType(
        [
            T.StructField("grp", grp_type, False),
            T.StructField("cluster", T.IntegerType(), False),
            T.StructField("c", T.ArrayType(T.DoubleType()), False),
        ]
    )
    return spark.createDataFrame(rows, schema=schema)


def _kmeans_rounds(
    vecs: DataFrame, k: int, iters: int, scale: int, dim: int | None,
    single_group: bool = False,
    route: str = "flat",
) -> tuple[DataFrame, DataFrame]:
    """Dispatcher: the Arrow/NumPy assignment kernel by default, the
    original all-expression SQL plan under ``SEMANTIC_ASSIGN_IMPL=sql``
    (bit-equality reference; identical output rows either way)."""
    if _assign_impl() == "sql":
        return _kmeans_rounds_sql(
            vecs, k, iters, scale, dim, single_group=single_group, route=route
        )
    return _kmeans_rounds_arrow(
        vecs, k, iters, scale, single_group=single_group, route=route
    )


def _kmeans_rounds_arrow(
    vecs: DataFrame, k: int, iters: int, scale: int,
    single_group: bool = False,
    route: str = "flat",
) -> tuple[DataFrame, DataFrame]:
    """Lloyd's loop with the map-only assignment kernel (guide §4.2):

    - init and each recompute land the k x dim centroid table on the
      DRIVER (bounded: k ~ sqrt(n) rows of metadata — the table the SQL
      path materialized via localCheckpoint anyway), and ship it back
      inside the kernel closure — no broadcast-join stage at all;
    - recompute rounds emit per-batch partial sums (<= k x dim rows per
      batch) instead of n assignment rows: ONE job per round whose
      exchange carries centroid-table bytes, never corpus bytes;
    - the final assignment is a single map-only stage fused into the
      consumer's plan — no candidate-row join, no SortAggregate, no
      exchange (the SQL plan paid all three per round).

    Semantics identical to ``_kmeans_rounds_sql`` bit-for-bit: the kernel
    reproduces every IEEE op (functions/argmin_kernel.py), init/ties/
    empty-cluster behavior included. ``route="hier"`` runs the SAME
    two-level routed assignment; its inner quantizer (over k centroid
    rows) runs locally on the driver instead of as 3 scheduled jobs per
    round."""
    cent_map, hier_plans = _lloyd_cent_map(
        vecs, k, iters, scale, single_group=single_group, route=route
    )
    spark = vecs.sparkSession
    vecs = vecs.select("grp", "id", "v")
    grp_type = vecs.schema["grp"].dataType
    id_type = vecs.schema["id"].dataType
    assigned = vecs.mapInArrow(
        _make_assign_fn(cent_map, hier_plans),
        f"grp {grp_type.simpleString()}, id {id_type.simpleString()},"
        " cluster int, dist_fx long",
    )
    return assigned, _centroids_df(spark, cent_map, grp_type)


def _lloyd_cent_map(
    vecs: DataFrame, k: int, iters: int, scale: int,
    single_group: bool = False,
    route: str = "flat",
) -> tuple[dict, dict | None]:
    """The driver-side Lloyd loop of ``_kmeans_rounds_arrow``: run the
    ``iters - 1`` recompute rounds (one partial-sums job + a
    centroid-table-bounded collect per round) and return the FROZEN
    quantizer the final assignment round would use —
    ``(cent_map, hier_plans)`` with hier_plans None for flat routing.
    Exposed separately so consumers that fuse extra per-row outputs into
    the final map stage (``mutual_knn_ivf``'s probe ranking) can build
    their own kernel against the identical frozen tables."""
    if route == "hier" and not single_group:
        raise ValueError("hier routing is single-group only")
    import numpy as np

    vecs = vecs.select("grp", "id", "v")
    grp_type = vecs.schema["grp"].dataType
    if single_group:
        # k-row bounded init fetch (the k lowest-id vectors, already
        # sorted by the TakeOrdered): same contract as the SQL path's
        # checkpointed init table, landed locally for the kernel closure
        init_rows = vecs.orderBy("id").limit(k).collect()
    else:
        w_init = Window.partitionBy("grp").orderBy("id")
        init_rows = (
            vecs.withColumn("_rn", F.row_number().over(w_init))
            .filter(F.col("_rn") <= k)
            .select("grp", "id", "v")
            .orderBy("grp", "id")
            .collect()  # k x groups bounded init rows
        )
    by_grp: dict = {}
    for r in init_rows:
        by_grp.setdefault(r["grp"], []).append(r["v"])
    cent_map = {
        g: (
            np.arange(1, len(vs) + 1, dtype=np.int64),
            np.array(vs, dtype=np.float64),
        )
        for g, vs in by_grp.items()
    }
    k2 = int(math.ceil(math.sqrt(k)))  # fixed across rounds (oracle mirrors)
    for _ in range(max(0, iters - 1)):
        hier_plans = _hier_plans(cent_map, k2, scale) if route == "hier" else None
        parts = vecs.mapInArrow(
            _make_partials_fn(cent_map, hier_plans),
            f"grp {grp_type.simpleString()}, cluster int, dim int, "
            "sfx long, cnt long",
        )
        agg_rows = (
            parts.groupBy("grp", "cluster", "dim")
            .agg(F.sum("sfx").alias("sfx"), F.sum("cnt").alias("cnt"))
            .collect()  # <= k x dim x groups rows — the centroid table
        )
        cent_map = _cent_map_from_partials(agg_rows, scale)
    hier_plans = _hier_plans(cent_map, k2, scale) if route == "hier" else None
    return cent_map, hier_plans


def _kmeans_rounds_sql(
    vecs: DataFrame, k: int, iters: int, scale: int, dim: int | None,
    single_group: bool = False,
    route: str = "flat",
) -> tuple[DataFrame, DataFrame]:
    """The shared Lloyd's loop: returns (final assignment, the CENTROID
    table that final assignment was computed against). Centroids are NOT
    recomputed after the last assignment — that recompute was a dead
    aggregation + eager checkpoint job per call (the SQL oracle never had
    a c{iters} CTE), and skipping it keeps the returned centroids exactly
    the ones every ``dist_fx`` refers to — the frozen coarse quantizer a
    streaming ingest assigns new vectors against (``assign_to_centroids``).

    Assignment is a broadcast join + hash-aggregate argmin
    (``_argmin_assign``): map-side combine keeps the exchange linear in
    the corpus regardless of k. ``route="hier"`` (single-group only)
    swaps every round's assignment for the two-level routed
    ``_argmin_assign_hier`` with k2 = ceil(sqrt(k)) super-cells —
    ~2*n*sqrt(k) distance evaluations per round instead of n*k, the
    right shape once auto-k makes k ~ sqrt(n)."""
    if route == "hier" and not single_group:
        raise ValueError("hier routing is single-group only")
    if single_group:
        # init = the k lowest-id vectors, cluster = rank by id — same
        # contract as the window path below, but TakeOrderedAndProject +
        # a k-row bounded collect_list instead of a WindowExec: with grp
        # a folded constant the window's partition spec is empty and
        # WindowExec logs a false "serious performance degradation"
        # scale alarm (the plan was already rewritten to a k-row limit;
        # this path just removes the operator that prints it)
        centroids = (
            vecs.orderBy("id")
            .limit(k)
            .groupBy("grp")
            .agg(F.array_sort(F.collect_list(F.struct("id", "v"))).alias("_top"))
            .select("grp", F.posexplode("_top").alias("_i", "_s"))
            .select(
                "grp",
                (F.col("_i") + 1).cast("int").alias("cluster"),
                F.col("_s.v").alias("c"),
            )
            .localCheckpoint(eager=True)
        )
    else:
        w_init = Window.partitionBy("grp").orderBy("id")
        centroids = (
            vecs.withColumn("_rn", F.row_number().over(w_init))
            .filter(F.col("_rn") <= k)
            .select("grp", F.col("_rn").alias("cluster"), F.col("v").alias("c"))
            .localCheckpoint(eager=True)
        )
    import math

    k2 = int(math.ceil(math.sqrt(k)))  # fixed across rounds (oracle mirrors)
    assigned = None
    for r in range(iters):
        # fixed-point per-dimension squared diffs (1e-8 quanta, int64): the
        # distance sum is exact integer arithmetic, so argmin assignment is
        # engine-reproducible and an unrolled SQL twin matches bit-for-bit
        # (dim=None -> fold; see _fx_sq_dist for the unrolled variant)
        if route == "hier":
            assigned = _argmin_assign_hier(vecs, centroids, dim, k2, scale=scale)
        else:
            assigned = _argmin_assign(vecs, centroids, dim)
        if r < iters - 1:
            centroids = (
                assigned.select(
                    "grp", "cluster", F.posexplode("v").alias("dim", "val")
                )
                .groupBy("grp", "cluster", "dim")
                .agg(round_half_up(avg_fixed_point(F.col("val")), scale).alias("cv"))
                .groupBy("grp", "cluster")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("dim", "cv"))),
                        lambda x: x["cv"],
                    ).alias("c")
                )
                .localCheckpoint(eager=True)
            )
    return assigned, centroids


def kmeans_with_centroids(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 6,
    route: str = "flat",
) -> tuple[DataFrame, DataFrame]:
    """``kmeans_lite`` that ALSO returns its frozen coarse quantizer:
    (assignments (id, cluster, dist_fx, dist), centroids (cluster, c)).
    The centroid table is what a streaming/incremental ingest holds on to
    — new vectors are routed with ``assign_to_centroids`` (one broadcast
    argmin, no re-training) until drift (``cell_drift``) says re-train."""
    vecs = embeddings.select(
        F.lit(0).alias("grp"),
        F.col(id_col).alias("id"),
        to_double_array(vec_col).alias("v"),
    )
    assigned, centroids = _kmeans_rounds(
        vecs, k, iters, scale, None, single_group=True, route=route
    )
    return (
        assigned.select(
            "id",
            "cluster",
            "dist_fx",
            (F.col("dist_fx").cast("double") / F.lit(100000000.0)).alias("dist"),
        ),
        centroids.select("cluster", "c"),
    )


def assign_to_centroids(
    vecs: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Route vectors to their nearest FROZEN centroid — the
    per-micro-batch ingest primitive of an IVF/SemDeDup layout. Default
    implementation is the map-only Arrow/NumPy argmin kernel: the k x dim
    centroid table (tiny at any corpus scale — it is the frozen quantizer
    a store hands back) lands on the driver once and ships in the kernel
    closure, so the batch pays ONE map stage — no broadcast-join, no
    candidate rows, no exchange. ``SEMANTIC_ASSIGN_IMPL=sql`` keeps the
    original broadcast-join + aggregate argmin as the bit-equality
    reference. Same exact fixed-point distance + lower-cluster tie-break
    contract either way, so an unrolled SQL oracle reproduces it
    bit-for-bit."""
    v = vecs.select(
        F.lit(0).alias("grp"),
        F.col(id_col).alias("id"),
        to_double_array(vec_col).alias("v"),
    )
    if _assign_impl() == "sql":
        cents = centroids.select(F.lit(0).alias("grp"), "cluster", "c")
        assigned = _argmin_assign(v, cents, dim)
    else:
        import numpy as np

        rows = centroids.select("cluster", "c").collect()  # k-row frozen quantizer table
        if not rows:
            # no centroid to route onto -> no rows, like the sql join
            return v.select(
                "id",
                F.lit(None).cast("int").alias("cluster"),
                F.lit(None).cast("long").alias("dist_fx"),
                F.lit(None).cast("double").alias("dist"),
            ).limit(0)
        rows.sort(key=lambda r: r["cluster"])
        cent_map = {
            0: (
                np.array([r["cluster"] for r in rows], dtype=np.int64),
                np.array([r["c"] for r in rows], dtype=np.float64),
            )
        }
        assigned = v.mapInArrow(
            _make_assign_fn(cent_map, None),
            f"grp int, id {v.schema['id'].dataType.simpleString()},"
            " cluster int, dist_fx long",
        )
    return (
        assigned
        .select("id", "cluster", "dist_fx")
        .withColumn(
            "dist", F.col("dist_fx").cast("double") / F.lit(100000000.0)
        )
    )


def cell_drift(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_buckets: int = 800,
    buckets: int = 1000,
) -> DataFrame:
    """Embedding-distribution drift monitor: train the coarse quantizer on
    the corpus' deterministic 'already ingested' slice (id-hash buckets
    < ``train_buckets``), route the remaining 'newly arrived' slice onto
    the FROZEN centroids (``assign_to_centroids`` — exactly what a
    streaming ingest does between re-trains), and compare the two
    populations per cell: occupancy shares and mean quantization error.
    A cell whose delta share diverges (``drift_permille``) or whose
    delta-side error inflates is the re-train / re-index trigger every
    production ANN or SemDeDup deployment needs — without it the frozen
    index silently degrades as the corpus distribution moves.

    All outputs are exact-integer or shared-half-up-rounded, so the SQL
    oracle reproduces them bit-for-bit (train = unrolled kmeans, delta =
    one more argmin against c{iters-1}). Output per cluster:
    (cluster, n_train, n_delta, avg_sq_dist_train, avg_sq_dist_delta,
    drift_permille = floor(n_delta*1000/total_delta) -
    floor(n_train*1000/total_train))."""
    from etl_pipeline_challenge_aladia_spark.operators.sampling import (
        hash_bucket_col,
    )

    b = hash_bucket_col(F.col(id_col), buckets)
    train = embeddings.filter(b < train_buckets)
    delta = embeddings.filter(b >= train_buckets)
    assigned_t, cents = kmeans_with_centroids(
        train, k=k, iters=iters, id_col=id_col, vec_col=vec_col
    )
    assigned_d = assign_to_centroids(delta, cents, id_col=id_col, vec_col=vec_col)

    t_stats = assigned_t.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_train"), F.sum("dist_fx").alias("sfx_t")
    )
    d_stats = assigned_d.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_delta"), F.sum("dist_fx").alias("sfx_d")
    )
    tot_t = assigned_t.agg(F.count(F.lit(1)).alias("tt"))
    tot_d = assigned_d.agg(F.count(F.lit(1)).alias("td"))
    n_t = F.coalesce(F.col("n_train"), F.lit(0)).cast("long")
    n_d = F.coalesce(F.col("n_delta"), F.lit(0)).cast("long")

    def _avg(sfx, n):
        return F.when(
            n > 0,
            round_half_up(
                F.col(sfx).cast("double") / F.lit(100000000.0) / n, 4
            ),
        ).otherwise(F.lit(0.0))

    return (
        t_stats.join(d_stats, "cluster", "full_outer")
        .crossJoin(F.broadcast(tot_t))
        .crossJoin(F.broadcast(tot_d))
        .select(
            F.col("cluster").cast("long").alias("cluster"),
            n_t.alias("n_train"),
            n_d.alias("n_delta"),
            _avg("sfx_t", n_t).alias("avg_sq_dist_train"),
            _avg("sfx_d", n_d).alias("avg_sq_dist_delta"),
            # share terms guard their own totals: an empty slice (possible
            # on tiny corpora where every id hashes to one side) reads as
            # share 0, never a NULL-poisoning division by zero
            (
                F.when(
                    F.col("td") > 0,
                    F.floor(n_d * 1000 / F.col("td")).cast("long"),
                ).otherwise(F.lit(0).cast("long"))
                - F.when(
                    F.col("tt") > 0,
                    F.floor(n_t * 1000 / F.col("tt")).cast("long"),
                ).otherwise(F.lit(0).cast("long"))
            ).alias("drift_permille"),
        )
    )


def pq_assignments(
    embeddings: DataFrame,
    blocks: int = 4,
    k: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product quantization: split each vector into ``blocks`` contiguous
    subvectors and train an independent ``kmeans_lite`` codebook per block
    -> (id, block, code, dist_fx) where ``code`` is the block's nearest
    codeword and ``dist_fx`` the EXACT int64 fixed-point squared
    reconstruction error of that block (1e-8 quanta).

    The memory math that motivates PQ at 100 TB: a 64-dim float32 vector
    (256 B) compresses to ``blocks`` codeword ids (4 B at blocks=4, k<=256)
    — a 64x shrink with distances still computable from codebook lookup
    tables. Each block's training is the same broadcast-centroid Lloyd's
    pass as ``kmeans_lite`` (deterministic: lowest-id init, fixed-point
    distances, order-independent centroid means), so the whole operator is
    engine-reproducible and the SQL twin unrolls per block x round.
    """
    codes, _books = pq_model(embeddings, blocks, k, iters, id_col, vec_col)
    return codes


def pq_model(
    embeddings: DataFrame,
    blocks: int = 4,
    k: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Train the PQ model once and return BOTH halves:

    - ``codes``: (id, block, code, dist_fx) — each vector's nearest
      codeword per block and its exact int64 reconstruction error;
    - ``codebooks``: (block, code, centroid array<double>) — the codeword
      vectors, components recomputed from the final assignment with the
      same order-independent fixed-point mean the training rounds use, so
      the model is engine-reproducible end-to-end.

    ``codebooks`` is blocks x k rows — broadcast-sized at any corpus
    scale; ADC search (``pq_adc_topk``) needs only these two frames plus
    the query vectors, never the original corpus vectors.
    """
    first = embeddings.select(to_double_array(vec_col).alias("v")).first()
    dim = len(first["v"])
    if dim % blocks:
        raise ValueError(f"dim {dim} not divisible into {blocks} blocks")
    sub_len = dim // blocks
    # ONE scan fans every vector out to its block subvectors (block = the
    # k-means group), so all codebooks train together in kmeans_lite_grouped
    # — per round: one broadcast join + one window + one aggregation, not
    # ``blocks`` separate job chains
    slices = F.array(
        *[
            F.struct(
                F.lit(b).cast("long").alias("block"),
                F.slice(
                    to_double_array(vec_col), b * sub_len + 1, sub_len
                ).alias("sub"),
            )
            for b in range(blocks)
        ]
    )
    subs = embeddings.select(
        F.col(id_col).alias("id"), F.explode(slices).alias("s")
    ).select(F.col("s.block").alias("grp"), "id", F.col("s.sub").alias("v"))
    a = kmeans_lite_grouped(subs, k=k, iters=iters).localCheckpoint(eager=True)
    codes = a.select(
        "id",
        F.col("grp").alias("block"),
        F.col("cluster").cast("long").alias("code"),
        "dist_fx",
    )
    members = a.select("grp", "id", "cluster").join(
        subs.select("grp", "id", "v"), ["grp", "id"]
    )
    books = (
        members.select("grp", "cluster", F.posexplode("v").alias("dim", "val"))
        .groupBy("grp", "cluster", "dim")
        .agg(round_half_up(avg_fixed_point(F.col("val")), 6).alias("cv"))
        .groupBy("grp", "cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "cv"))),
                lambda x: x["cv"],
            ).alias("centroid")
        )
        .select(
            F.col("grp").alias("block"),
            F.col("cluster").cast("long").alias("code"),
            "centroid",
        )
    )
    return codes, books


def pq_adc_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    blocks: int = 4,
    k: int = 4,
    iters: int = 2,
    topk: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) approximate nearest neighbors over PQ
    codes: per (query, block, codeword) squared distances form a tiny
    lookup table (queries x blocks x k rows, broadcast), and each
    candidate's approximate distance is ONE sum of ``blocks`` table
    lookups joined on its codes — the corpus's raw vectors are never
    touched at query time. This is the classic IVF-ADC shape at 100 TB:
    the codes table (a few bytes/vector) is the only corpus-sized scan.

    Distances stay exact int64 fixed-point (1e-8 quanta) end-to-end, so
    ranking ties break identically in any engine ((dist, neighbor_id)
    order).
    """
    codes, books = pq_model(embeddings, blocks, k, iters, id_col, vec_col)
    first = queries.select(to_double_array(vec_col).alias("v")).first()
    dim = len(first["v"])
    sub_len = dim // blocks
    # one posexplode pass, not a union of per-block selects (a union
    # re-instantiates the query subtree once per block)
    q_subs = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.posexplode(
            F.array(
                *[
                    F.slice(to_double_array(vec_col), b * sub_len + 1, sub_len)
                    for b in range(blocks)
                ]
            )
        ).alias("block", "qsub"),
    ).withColumn("block", F.col("block").cast("long"))
    fx = F.aggregate(
        F.zip_with(
            "qsub",
            "centroid",
            lambda a, c: F.floor(
                (a - c) * (a - c) * F.lit(100000000.0) + F.lit(0.5)
            ).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    lut = q_subs.join(books, "block").select(
        "query_id", "block", "code", fx.alias("qfx")
    )
    scored = (
        codes.join(F.broadcast(lut), ["block", "code"])
        .groupBy("query_id", F.col("id").alias("neighbor_id"))
        .agg(F.sum("qfx").alias("adc_fx"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_fx", "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= topk)
        .select(
            "query_id",
            "neighbor_id",
            round_half_up(
                F.col("adc_fx").cast("double") / F.lit(100000000.0), 6
            ).alias("adc_dist"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


def ivf_adc_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    topk: int = 5,
    nprobe: int = 2,
    blocks: int = 4,
    k_code: int = 4,
    iters: int = 2,
    cell_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-ADC: the full billion-vector serving layout — coarse cells route
    each query to its ``nprobe`` nearest cell centroids (exact fixed-point
    L2, broadcast centroid table), then only the probed cells' PQ codes are
    scored by broadcast distance-table lookups (``pq_adc_topk``'s ADC).

    Query-time cost at 100 TB: centroids (cells x dim) and the lookup
    table (queries x blocks x k) broadcast; the only corpus-sized input is
    the skinny codes frame, pre-filterable to probed cells (partition
    pruning when codes are stored partitioned by cell). Raw vectors are
    touched only at model-build time. All arithmetic is exact int64
    fixed-point, so probe selection and final ranking are engine-identical
    ((dist, cell) and (dist, neighbor_id) tie-breaks).
    """
    cents = label_centroids(embeddings, None, cell_col, vec_col)
    q = queries.select(
        F.col(query_id_col).alias("query_id"), to_double_array(vec_col).alias("qe")
    )
    cell_fx = F.aggregate(
        F.zip_with(
            "qe",
            "centroid",
            lambda a, c: F.floor(
                (a - c) * (a - c) * F.lit(100000000.0) + F.lit(0.5)
            ).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    probe_w = Window.partitionBy("query_id").orderBy("cell_fx", "cell")
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select("query_id", "cell", cell_fx.alias("cell_fx"))
        .withColumn("_rn", F.row_number().over(probe_w))
        .filter(F.col("_rn") <= nprobe)
        .select("query_id", "cell")
    )
    codes, books = pq_model(embeddings, blocks, k_code, iters, id_col, vec_col)
    cells = embeddings.select(
        F.col(id_col).alias("id"), F.col(cell_col).alias("cell")
    )
    first = q.select("qe").first()
    sub_len = len(first["qe"]) // blocks
    # single posexplode pass over the query frame (see pq_adc_topk)
    q_subs = q.select(
        "query_id",
        F.posexplode(
            F.array(
                *[
                    F.slice("qe", b * sub_len + 1, sub_len)
                    for b in range(blocks)
                ]
            )
        ).alias("block", "qsub"),
    ).withColumn("block", F.col("block").cast("long"))
    qfx = F.aggregate(
        F.zip_with(
            "qsub",
            "centroid",
            lambda a, c: F.floor(
                (a - c) * (a - c) * F.lit(100000000.0) + F.lit(0.5)
            ).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    lut = q_subs.join(books, "block").select(
        "query_id", "block", "code", qfx.alias("qfx")
    )
    scored = (
        codes.join(cells, "id")
        .join(F.broadcast(probes), "cell")
        .join(F.broadcast(lut), ["query_id", "block", "code"])
        .groupBy("query_id", F.col("id").alias("neighbor_id"))
        .agg(F.sum("qfx").alias("adc_fx"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_fx", "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= topk)
        .select(
            "query_id",
            "neighbor_id",
            round_half_up(
                F.col("adc_fx").cast("double") / F.lit(100000000.0), 6
            ).alias("adc_dist"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


def rp_planes(bits: int, dim: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1): component (i, j)
    is md5("rp{seed}_{i}_{j}") folded to 32 bits and rescaled. Generated
    driver-side from a seed string, so the identical float literals can be
    embedded in any engine's SQL — signatures are engine-reproducible."""
    planes = []
    for i in range(bits):
        row = []
        for j in range(dim):
            h = hashlib.md5(f"rp{seed}_{i}_{j}".encode()).hexdigest()[:8]
            row.append(int(h, 16) / 2.0**31 - 1.0)
        planes.append(row)
    return planes


def rp_signature_col(vec_name: str, planes: list[list[float]]) -> F.Column:
    """Sign-bit LSH signature of an array<double> column (referenced by
    name): bit i is set iff dot(v, plane_i) >= 0 (SimHash for dense
    vectors — Charikar's rounding scheme: P[bit match] = 1 - angle/pi).

    Built as ONE SQL expression string parsed JVM-side: composing the
    bits x dim literal tree through the Column API would cost thousands
    of Py4J round-trips of driver time PER CALL (measured ~2s at 48x64),
    while the parser swallows the same tree in milliseconds. The fold is
    left-to-right (`aggregate`), matching the oracle's literal `+` chain
    term-for-term, so sign bits are engine-identical.
    """
    terms = []
    for i, plane in enumerate(planes):
        # exponent-form literals (1e-09) are already DOUBLE in Spark SQL;
        # plain decimals need the D suffix or they parse as DECIMAL
        lits = ", ".join(
            repr(c) if "e" in repr(c) else f"{c!r}D" for c in plane
        )
        dot = (
            f"aggregate(zip_with({vec_name}, array({lits}),"
            " (a, b) -> a * b), 0D, (acc, x) -> acc + x)"
        )
        terms.append(f"(CASE WHEN {dot} >= 0D THEN {2**i}L ELSE 0L END)")
    return F.expr("(" + " + ".join(terms) + ")")


def rp_lsh_near_dup_pairs(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.99,
    bits: int = 48,
    blocks: int = 8,
    key_blocks: int = 4,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 4,
) -> DataFrame:
    """Random-hyperplane LSH near-duplicate pairs over an embedding column:
    block-combination sign-bit candidate generation + exact cosine rerank.

    The hyperplane complement to ``ivf_topk``: no training/centroid pass is
    needed (planes are derived from a seed), so it composes with streaming
    and incremental ingest, and candidate generation is a pure narrow
    projection + one equi-join on (table, key) — linear in corpus plus
    bucket collisions. Candidates use the block-combination layout of
    operators/hamming.py: the 48-bit signature splits into 8 six-bit
    blocks and each of the C(8,4) = 70 tables keys on one 4-block
    (24-bit) subset, so a pair is a candidate iff >= 4 of its 8 blocks
    match. Block matches are INDEPENDENT across blocks (disjoint bits),
    so with per-bit match probability p = 1 - acos(t)/pi the recall at
    cosine t is exactly P(Binomial(8, p^6) >= 4) — ~0.9998 at t=0.999,
    BETTER than the old 4x12 disjoint banding's 0.9994, and exactly 1.0
    for exact duplicates (identical vectors have identical signatures) —
    while an UNRELATED pair (p ~ 0.5) is a candidate w.p.
    P(Binomial(8, 2^-6) >= 4) ~ 3.9e-6 — ~250x below the old 4x12
    layout's aggregate candidate rate 1-(1-2^-12)^4 ~ 9.8e-4 (and ~62x
    below even a single band's 2^-12), the noise floor that made
    candidate volume quadratic-damped-by-4096 (visible as ~0.1% of ALL
    pairs reaching the rerank — real money at 10^8 vectors). This pruning argument holds ONLY in the
    high-threshold (true near-duplicate) regime: at mid thresholds
    (t <~ 0.7) the signal bit-match rate ~0.65 is too close to the 0.5
    noise floor, and any layout loose enough to recall also admits most
    random pairs — use ``ivf_topk`` / ``brute_force_topk`` for
    mid-similarity search instead. The exact rerank removes all false
    positives, so output precision is 1.0 regardless. Candidates are
    deduped as skinny (id, id) pairs BEFORE rejoining vectors, so the wide
    embedding payload never passes through the distinct.
    """
    from etl_pipeline_challenge_aladia_spark.operators.hamming import (
        explode_block_keys,
    )

    vecs = fan_out(embeddings).select(
        F.col(id_col).alias("id"), to_double_array(vec_col).alias("v")
    )
    # Materialize the SKINNY (id, sig) frame — 16 bytes/row at any corpus
    # size — so the 48-projection signature pass runs once instead of once
    # per join branch; the wide vectors are NOT checkpointed (the rerank
    # re-reads them from the columnar source, where pruning is free).
    sigs = vecs.select(
        "id", rp_signature_col("v", rp_planes(bits, dim, seed)).alias("sig")
    ).localCheckpoint(eager=True)
    # the candidate join needs only (id, table, key): drop the sig the
    # exploder carries for Hamming verification — with C(8,4) = 70 rows
    # per vector it would otherwise ride the shuffle 70x per input
    rows = explode_block_keys(
        sigs, "id", "sig", bits, blocks, key_blocks
    ).select("id", "table", "key")
    a, b = rows.alias("a"), rows.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("ia"), F.col("b.id").alias("ib"))
        .distinct()
    )
    va = vecs.select(F.col("id").alias("ia"), F.col("v").alias("va"))
    vb = vecs.select(F.col("id").alias("ib"), F.col("v").alias("vb"))
    scored = (
        cand.join(va, "ia")
        .join(vb, "ib")
        .select(
            F.col("ia").alias("vec_id_a"),
            F.col("ib").alias("vec_id_b"),
            round_half_up(cosine_similarity_col(F.col("va"), F.col("vb")), scale).alias(
                "cos_sim"
            ),
        )
    )
    return scored.filter(F.col("cos_sim") >= threshold)


def knn_classify(
    labeled: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Majority-vote k-NN label assignment: each query vector takes the
    most common label among its ``k`` exact-cosine nearest labeled
    vectors (ties -> smaller label, for determinism).

    The label-propagation step of semi-supervised data curation (assign
    quality/domain labels from a small annotated seed set to the whole
    corpus). Built on ``brute_force_topk`` — broadcast query set, streamed
    candidate scan — plus one neighbor-label join and one per-query
    argmax, computed as ``max(struct(votes, -label))`` so no second
    window pass is needed. For corpus-scale query sets swap the top-k
    stage for ``ivf_topk`` (same output contract).
    """
    nn = brute_force_topk(labeled, queries, k, id_col, vec_col, query_id_col)
    lab = labeled.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("_nl")
    )
    votes = nn.join(lab, "neighbor_id").groupBy("query_id", "_nl").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    picked = votes.groupBy("query_id").agg(
        F.max(
            F.struct(
                F.col("n_votes").alias("v"), (-F.col("_nl")).alias("nl")
            )
        ).alias("_best")
    )
    return picked.select(
        "query_id",
        (-F.col("_best.nl")).alias("predicted_label"),
        F.col("_best.v").cast("long").alias("n_votes"),
    )

def centroid_outliers(
    embeddings: DataFrame,
    k: int = 5,
    cell_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-``k`` vectors farthest from their own cell's centroid — the
    embedding-space outlier sweep (mislabeled / out-of-distribution
    candidates) run before training on a labeled corpus.

    Determinism: centroids come from :func:`label_centroids` (components
    rounded half-up to 1e-6 on both engines), and the squared distance is
    fixed-pointed PER DIMENSION (``floor(d*d*1e8 + 0.5)`` as int64) before
    the fold, so the sum is an exact integer in any order.

    Plan shape: the centroid table is (cells x dims) — tiny at any corpus
    scale — and joins broadcast; the ranking window partitions BY CELL, so
    no global sort. Everything else is one linear pass over the vectors.
    """
    cents = label_centroids(embeddings, cell_col=cell_col, vec_col=vec_col)
    e = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(cell_col).alias("cell"),
        to_double_array(vec_col).alias("v"),
    )
    d2fx = F.aggregate(
        F.zip_with(
            F.col("v"),
            F.col("centroid"),
            lambda x, c: F.floor((x - c) * (x - c) * F.lit(100000000.0) + F.lit(0.5)).cast(
                "long"
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("cell").orderBy(F.col("d2").desc(), F.col("vec_id"))
    return (
        e.join(F.broadcast(cents), "cell")
        .withColumn("d2", d2fx.cast("double") / F.lit(100000000.0))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select(F.col("cell").alias(cell_col), "vec_id", "d2", "rnk")
    )


def shared_span_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 8,
    df_cap: int = 50,
    min_shared: int = 1,
) -> DataFrame:
    """ORDER-SENSITIVE substring-level duplicate detection: doc pairs that
    share at least ``min_shared`` distinct spans of ``span_tokens``
    consecutive tokens — the "exact substring dedup" modality (long copied
    passages inside otherwise-different documents), which set-based
    Jaccard under-weights because a long span is only ~1 shingle per
    position out of the whole set.

    Inverted index on the span text: explode distinct spans, drop spans
    with document frequency above ``df_cap`` (boilerplate — posting lists
    otherwise go quadratic, same mitigation as ngram_jaccard_pairs), then
    count co-occurrences per pair. Cost is the sum of capped posting-list
    squares, linear-ish in corpus size, never all-pairs.
    """
    # fan_out BEFORE the span projection (see ngram_jaccard_pairs): the
    # single-row-group scan would otherwise shingle the corpus in one task
    spans = fan_out(
        docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
    ).select(
        "id",
        F.explode(
            F.array_distinct(shingles_col(tokens_col("_t"), span_tokens))
        ).alias("span"),
    )
    rare = (
        spans.groupBy("span")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= df_cap)
        .select("span")
    )
    indexed = spans.join(rare, "span")
    a, b = indexed.alias("a"), indexed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.span") == F.col("b.span"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(
            F.col("a.id").alias("doc_id_a"), F.col("b.id").alias("doc_id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_spans"))
        .filter(F.col("n_shared_spans") >= min_shared)
    )


def auto_semantic_k(n: int, iters: int = 3) -> int:
    """The cost-optimal cell count for ``semantic_dedup``:
    floor(sqrt(n/iters)), the argmin of d*(iters*n*k + n^2/k). Kept as a
    standalone double-math expression so the SQL oracle can replicate it
    term-for-term (``floor(sqrt(n / 3.0))`` — IEEE sqrt is correctly
    rounded, so both engines agree for any n)."""
    import math

    return int(math.floor(math.sqrt(n / float(iters))))


#: Measured flat->hier routing crossover for the semantic-dedup family
#: (corpus vectors, injection included). The two-level-routed assignment
#: carries fixed per-round overhead (the inner centroid k-means + the
#: extra routing stage) but a lower exponent — measured at n^1.13 vs the
#: flat plan's n^1.34 over the 10x->100x ladder (SCALING.md, BENCH_
#: scaling_100x.json). The bench rungs bracket the crossover: at 2.2k
#: vectors flat wins on constants (7.2 s vs 9.3 s), at 22k hier already
#: dominates (19.6 s vs 25.0 s); log-log interpolation of those two
#: rungs crosses at ~7k vectors, and 8192 is the power of two inside
#: the measured bracket. Above it, picking the flat plan is a mistake
#: that GROWS per decade — so ``route="auto"`` refuses to make it.
SEMANTIC_ROUTE_THRESHOLD = 8192

#: Deployment seam (VERDICT r12 #6): point this env var at a tuning-
#: report store populated by ``streaming/tuning.py:route_threshold_
#: maintenance`` and every ``route="auto"`` caller resolves the
#: crossover from THAT deployment's own measurement instead of the
#: build-host constant — no code changes, no per-call plumbing. Unset
#: (the default, and the state under the correctness driver) the
#: constant routes, so cataloged oracles stay hash-pure.
SEMANTIC_ROUTE_STORE_ENV = "SEMANTIC_ROUTE_STORE"


def deployment_route_threshold(spark) -> int | None:
    """The stored route-threshold decision for this deployment, or None
    when no store is configured (``SEMANTIC_ROUTE_STORE`` unset) or the
    configured store has no persisted decision yet — callers fall back
    to ``SEMANTIC_ROUTE_THRESHOLD`` in both cases."""
    import os

    path = os.environ.get(SEMANTIC_ROUTE_STORE_ENV)
    if not path:
        return None
    from etl_pipeline_challenge_aladia_spark.streaming.tuning import (
        route_threshold_from_store,
    )

    return route_threshold_from_store(spark, path)


def resolve_semantic_route(
    route: str, n: int, threshold: int | None = None, spark=None
) -> str:
    """Resolve ``route="auto"`` to a physical assignment strategy from
    the corpus size — the measured-decision pattern (``auto_semantic_k``,
    ``auto_salted_join``, ``tune_nprobe``) applied to plan routing:
    below the measured crossover the flat argmin's cheaper constants
    win; at or above it the two-level router's lower growth exponent
    does, and the gap widens every decade (n^1.13 vs n^1.34 — SCALING.md
    100x ladder). Explicit routes pass through untouched, so
    ``route="flat"`` remains the exact audit variant at any scale.
    ``threshold=None`` reads, in order: the DEPLOYMENT's persisted
    decision when a ``spark`` session is supplied and the
    ``SEMANTIC_ROUTE_STORE`` env seam points at a store that
    ``route_threshold_maintenance`` has populated (the measured-on-THIS-
    hardware crossover, VERDICT r12 #6), else the module constant at
    CALL time — so a test overriding ``SEMANTIC_ROUTE_THRESHOLD`` still
    moves every auto-routed caller together."""
    if route != "auto":
        return route
    if threshold is None and spark is not None:
        threshold = deployment_route_threshold(spark)
    if threshold is None:
        threshold = SEMANTIC_ROUTE_THRESHOLD
    return "hier" if n >= threshold else "flat"


def _cell_pair_dedup(
    m: DataFrame, threshold: float, out_id: str = "vec_id",
    n_hint: int | None = None,
) -> DataFrame:
    """The in-cell duplicate sweep of ``semantic_dedup`` as one grouped
    Arrow kernel over (id, cluster, v): emits (out_id, canonical_id,
    max_cos) per duplicate. Exact-value contract lives in
    functions/argmin_kernel.py:cell_dup_sweep.

    Giant-cell guard: applyInPandas materializes the WHOLE group's
    (rows x dim) input per task, so when the corpus could hold a cell
    above ``PAIR_GROUP_ROWS`` (``n_hint`` is the corpus count — a cell
    can never exceed it; None means unknown), oversized cells are split
    into id-rank blocks and swept as (canon-block, dup-block) tiles with
    a dup-grain (min canon, max cos) rollup — bit-identical output
    (min/max over qualifying partners decompose across any partition of
    the partner range; every (i, j) pair lands in exactly one tile).
    Within-cap corpora keep the single-group plan with zero extra jobs."""
    import pandas as pd  # noqa: F401 — applyInPandas contract

    id_t = m.schema["id"].dataType.simpleString()
    th = float(threshold)
    cap = _K.PAIR_GROUP_ROWS

    def fn(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("id")
        ids = pdf["id"].to_numpy()
        V = np.stack(
            [np.asarray(x, dtype=np.float64) for x in pdf["v"]]
        )
        dup, canon, mc = _K.cell_dup_sweep(ids, V, th)
        return pd.DataFrame(
            {"_dup": dup, "_canon": canon, "max_cos": mc}
        )

    if n_hint is not None and n_hint <= cap:
        out = m.select("cluster", "id", "v").groupBy("cluster").applyInPandas(
            fn, f"_dup {id_t}, _canon {id_t}, max_cos double"
        )
        return out.select(
            F.col("_dup").alias(out_id),
            F.col("_canon").alias("canonical_id"),
            "max_cos",
        )

    # big-corpus route: one centroid-grain count decides per cell; the
    # kernel input is materialized once (lazy checkpoint) for both the
    # count and the sweep
    m = m.select("cluster", "id", "v").localCheckpoint(eager=False)
    counts = m.groupBy("cluster").agg(F.count(F.lit(1)).alias("_cnt"))
    t = m.join(F.broadcast(counts), "cluster")
    small = t.filter(F.col("_cnt") <= cap).select("cluster", "id", "v")
    out_small = small.groupBy("cluster").applyInPandas(
        fn, f"_dup {id_t}, _canon {id_t}, max_cos double"
    )
    big = (
        t.filter(F.col("_cnt") > cap)
        .withColumn("_nb", F.ceil(F.col("_cnt") / F.lit(cap)).cast("int"))
        .withColumn(
            "_blk",
            (
                (F.row_number().over(
                    Window.partitionBy("cluster").orderBy("id")
                ) - 1) / F.lit(cap)
            ).cast("int"),
        )
    )
    # canon-side: block a participates in tiles (a, y) for y >= a;
    # dup-side: block b participates in tiles (x, b) for x <= b — every
    # id_i < id_j pair lands in exactly one (block(i), block(j)) tile
    # because id-rank blocks ascend with id
    canon_side = big.select(
        "cluster", "id", "v", F.lit(0).alias("_role"),
        F.col("_blk").alias("_bi"),
        F.explode(F.sequence("_blk", F.col("_nb") - 1)).alias("_bj"),
    )
    dup_side = big.select(
        "cluster", "id", "v", F.lit(1).alias("_role"),
        F.explode(F.sequence(F.lit(0), "_blk")).alias("_bi"),
        F.col("_blk").alias("_bj"),
    )

    def tile_fn(pdf):
        import numpy as np
        import pandas as pd

        ci = pdf[pdf["_role"] == 0].sort_values("id")
        dj = pdf[pdf["_role"] == 1].sort_values("id")
        if len(ci) == 0 or len(dj) == 0:
            return pd.DataFrame(
                {"_dup": dj["id"][:0], "_canon": dj["id"][:0],
                 "max_cos": np.empty(0, dtype=np.float64)}
            )
        cids = ci["id"].to_numpy()
        VC = np.stack([np.asarray(x, dtype=np.float64) for x in ci["v"]])
        dids = dj["id"].to_numpy()
        VD = np.stack([np.asarray(x, dtype=np.float64) for x in dj["v"]])
        dup, canon, mc = _K.cell_screen_sweep(
            dids, VD, cids, VC, th, require_lower=True
        )
        return pd.DataFrame({"_dup": dup, "_canon": canon, "max_cos": mc})

    out_big = (
        canon_side.unionByName(dup_side)
        .groupBy("cluster", "_bi", "_bj")
        .applyInPandas(
            tile_fn, f"_dup {id_t}, _canon {id_t}, max_cos double"
        )
        .groupBy("_dup")
        .agg(
            F.min("_canon").alias("_canon"),
            F.max("max_cos").alias("max_cos"),
        )
    )
    return out_small.unionByName(out_big).select(
        F.col("_dup").alias(out_id),
        F.col("_canon").alias("canonical_id"),
        "max_cos",
    )


def _cell_screen_pairs(
    d: DataFrame, c: DataFrame, threshold: float, out_id: str
) -> DataFrame:
    """The delta-vs-corpus in-cell screen of ``semantic_dedup_screen`` as
    one COGROUPED Arrow kernel: ``d`` is (cell, id, v) [delta], ``c`` is
    (cell, cid, cv) [stored corpus members]; emits (out_id, canonical_id,
    max_cos) per leaked/duplicate delta row. Cells present on only one
    side emit nothing — inner-join semantics, like the SQL plan.

    Group-input bound: unlike the self-sweep (``_cell_pair_dedup``,
    which hard-caps oversized cells via the tiled route), the screen's
    per-cell frames are bounded by its CALLERS' contracts — the corpus
    side is a frozen eval index (metadata-sized by publication contract)
    or the stored in-cell survivors of a dedup whose own build already
    capped cells, and the delta side is an ingest micro-batch whose size
    the stream trigger bounds. A batch decontaminate over an
    adversarially mass-duplicated train split remains the residual
    hazard; route it through ``semantic_dedup`` first (which now tiles)
    if that regime is expected."""
    id_t = d.schema["id"].dataType.simpleString()
    th = float(threshold)

    def fn(left, right):
        import numpy as np
        import pandas as pd

        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame(
                {"_dup": left["id"][:0], "_canon": left["id"][:0],
                 "max_cos": np.empty(0, dtype=np.float64)}
            )
        right = right.sort_values("cid")
        dids = left["id"].to_numpy()
        VD = np.stack([np.asarray(x, dtype=np.float64) for x in left["v"]])
        cids = right["cid"].to_numpy()
        VC = np.stack([np.asarray(x, dtype=np.float64) for x in right["cv"]])
        dup, canon, mc = _K.cell_screen_sweep(dids, VD, cids, VC, th)
        return pd.DataFrame({"_dup": dup, "_canon": canon, "max_cos": mc})

    out = (
        d.select("cell", "id", "v")
        .groupBy("cell")
        .cogroup(c.select("cell", "cid", "cv").groupBy("cell"))
        .applyInPandas(fn, f"_dup {id_t}, _canon {id_t}, max_cos double")
    )
    return out.select(
        F.col("_dup").alias(out_id),
        F.col("_canon").alias("canonical_id"),
        F.col("max_cos"),
    )


def semantic_dedup(
    embeddings: DataFrame,
    k: int | None = None,
    iters: int = 3,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    route: str = "auto",
    route_threshold: int | None = None,
) -> DataFrame:
    """SemDeDup-shaped semantic deduplication: k-means cells bound the
    pairwise comparison, then within each cell a vector is a DUPLICATE if
    a lower-id cell-mate's cosine similarity exceeds ``threshold``
    (min-id survivorship — the SQL-able variant of SemDeDup's greedy
    keep-first sweep; both keep exactly one representative per tight
    semantic group).

    Pairwise cost is sum of cell-size squares — the whole point of the
    coarse quantizer: at corpus scale cells are capped by k's granularity
    and the quadratic never touches the full corpus. ``k=None`` (the
    default) scales k WITH the corpus instead of leaving that to the
    caller: total cost ~ d*(iters*n*k + n^2/k) — assignment grows with k,
    in-cell pairs shrink with it — is minimized at k* = sqrt(n/iters), so
    auto-k picks ``max(32, floor(sqrt(n/iters)))`` (floored so tiny
    corpora keep meaningful cells) from one cheap count. Overall work is
    then Θ(n^1.5), never corpus-squared; a fixed k would be quadratic at
    scale (the measured-decision pattern of operators/skew.auto_salted_
    join — decide from the data, not a pinned constant). The same formula
    is SQL-expressible, so the oracle stays exact under auto-k (dynamic
    LIMIT on the init CTE). Assignment reuses the deterministic
    fixed-point ``kmeans_lite`` so the oracle can unroll it. The hot pair stage runs a cheap prefilter — one dot product of
    PRE-normalized vectors per pair (cosine re-derives both norms per
    pair, 3x the flops) with a safety margin below the threshold — and
    only surviving pairs get the exact canonical cosine that the oracle
    compares, so output values are untouched. Output: one row per
    duplicate (vec_id, canonical_id = lowest qualifying cell-mate,
    max_cos).

    ``route="hier"`` swaps every Lloyd round's flat argmin for the
    two-level routed ``_argmin_assign_hier`` (centroids clustered into
    ceil(sqrt(k)) super-cells; ~2*n*sqrt(k) distance evaluations per
    round instead of n*k) — with auto-k that cuts total assignment from
    Θ(n^1.5) to ~Θ(n^1.25), the right shape at 10^9+ vectors; still
    deterministic and SQL-oracle-unrollable at both levels.

    ``route="auto"`` (the default) picks the physical strategy from the
    same corpus count that prices k: flat below
    ``SEMANTIC_ROUTE_THRESHOLD`` vectors (cheaper constants), two-level
    routed at or above it (lower measured exponent — n^1.13 vs n^1.34,
    SCALING.md 100x ladder). The threshold sits inside the measured
    bench bracket (flat wins at 2.2k, loses at 22k), so a caller can no
    longer silently default onto the super-linear curve at corpus
    scale; ``route="flat"`` stays available as the explicit exact-audit
    variant.
    """
    from etl_pipeline_challenge_aladia_spark.functions.vectors import (
        dot_col,
        l2_normalize_col,
    )

    n = None
    if k is None or route == "auto":
        # one cheap count (parquet footer metadata when unfiltered) buys
        # the right k AND the right physical route for THIS corpus; the
        # k formula is mirrored by the SQL oracle
        n = embeddings.count()
        if k is None:
            k = max(32, min(max(n, 1), auto_semantic_k(n, iters)))
        route = resolve_semantic_route(
            route, n, route_threshold, spark=embeddings.sparkSession
        )
    if _assign_impl() != "sql":
        # in-cell sweep as ONE grouped Arrow kernel (guide §4.2): the
        # exchange moves each member once, keyed by its cell, and the
        # kernel computes the exact round4 cosines vectorized — no
        # self-join, no per-pair interpreted folds, no second exchange
        # for the dup-grain aggregate (a dup's matches all live in its
        # own cell, so the rollup is in-kernel). The dot-product
        # PREFILTER of the SQL plan is a conservative margin over the
        # exact cosine, so sweeping exact cosines directly emits the
        # identical row set — which is also precisely what the oracle's
        # pair CTE computes. The assignment kernel ECHOES the vector
        # (r14), so the old join back to the corpus for v is gone: the
        # whole query is one map stage + one cell-keyed exchange.
        vecs = embeddings.select(
            F.lit(0).alias("grp"),
            F.col(id_col).alias("id"),
            to_double_array(vec_col).alias("v"),
        )
        cent_map, hier_plans = _lloyd_cent_map(
            vecs, k, iters, scale=6, single_group=True, route=route
        )
        id_t = vecs.schema["id"].dataType.simpleString()
        m = vecs.mapInArrow(
            _make_assign_v_fn(cent_map, hier_plans),
            f"id {id_t}, cluster int, v array<double>",
        )
        return _cell_pair_dedup(m, threshold, out_id="vec_id", n_hint=n)
    cells = kmeans_lite(
        embeddings, k=k, iters=iters, id_col=id_col, vec_col=vec_col,
        route=route,
    )
    v = embeddings.select(
        F.col(id_col).alias("id"),
        to_double_array(vec_col).alias("v"),
        l2_normalize_col(to_double_array(vec_col)).alias("nv"),
    )
    m = cells.select("id", "cluster").join(v, "id")
    a, b = m.alias("a"), m.alias("b")
    # margin covers normalized-dot vs exact-cosine float noise (~1e-15) by
    # ten orders of magnitude; candidates below it cannot reach threshold
    prefilter = dot_col(F.col("a.nv"), F.col("b.nv")) >= F.lit(threshold - 0.01)
    pairs = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.id") < F.col("b.id"))
            & prefilter,
        )
        .select(
            F.col("a.id").alias("keep_id"),
            F.col("b.id").alias("dup_id"),
            round_half_up(
                cosine_similarity_col(F.col("a.v"), F.col("b.v")), 4
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= F.lit(threshold))
    )
    return pairs.groupBy(F.col("dup_id").alias("vec_id")).agg(
        F.min("keep_id").alias("canonical_id"),
        F.max("cos_sim").alias("max_cos"),
    )


def semantic_dedup_screen(
    corpus_cells: DataFrame,
    delta: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """The pure per-batch screening half of incremental semantic dedup:
    route ``delta`` onto a FROZEN coarse quantizer (``centroids`` —
    (cluster, c), one broadcast argmin, linear in the batch), then
    compare each delta vector ONLY against the stored corpus members of
    its routed cell. Cost per batch is |delta| x (k + avg cell size) —
    independent of corpus size, which is the whole point of the
    ingest-time shape: the batch dedup re-clusters the world, this
    tests the new arrivals against in-cell survivors and nothing else.

    ``corpus_cells`` is the stored index: (id_col, vec_col, cell_col) —
    cells were assigned by the SAME quantizer at ingest time, so no
    corpus-side recompute happens here. Same pair contract as
    ``semantic_dedup``: pre-normalized dot prefilter with a safety
    margin, exact canonical cosine (half-up to 4) for surviving pairs.
    Output: (vec_id [delta ids], canonical_id = min matching corpus id,
    max_cos). Within-batch twins are NOT screened against each other —
    they surface when the next batch screens against the appended
    corpus (the ``streaming/docs.py`` accumulation contract).
    """
    from etl_pipeline_challenge_aladia_spark.functions.vectors import (
        dot_col,
        l2_normalize_col,
    )

    if _assign_impl() != "sql":
        # delta-vs-corpus sweep as ONE cogrouped Arrow kernel: both sides
        # exchange once, keyed by the cell, and the kernel computes the
        # exact round4 cosines vectorized (same prefilter-superset
        # argument as semantic_dedup's kernel — identical row set). The
        # routing kernel ECHOES the delta vector (r14), so the old join
        # back to the delta for v is gone: the delta side is one map
        # stage straight into the cogroup exchange.
        import numpy as np

        rows = centroids.select("cluster", "c").collect()  # k-row frozen quantizer table
        if not rows:
            # no cell to route into -> nothing screens, like the sql join
            return delta.select(
                F.col(id_col),
                F.col(id_col).alias("canonical_id"),
                F.lit(None).cast("double").alias("max_cos"),
            ).limit(0)
        rows.sort(key=lambda r: r["cluster"])
        cent_map = {
            0: (
                np.array([r["cluster"] for r in rows], dtype=np.int64),
                np.array([r["c"] for r in rows], dtype=np.float64),
            )
        }
        dvec = delta.select(
            F.lit(0).alias("grp"),
            F.col(id_col).alias("id"),
            to_double_array(vec_col).alias("v"),
        )
        id_t = dvec.schema["id"].dataType.simpleString()
        dd = dvec.mapInArrow(
            _make_assign_v_fn(cent_map, None),
            f"id {id_t}, cluster int, v array<double>",
        ).select(F.col("cluster").alias("cell"), "id", "v")
        cc = corpus_cells.select(
            F.col(cell_col).alias("cell"),
            F.col(id_col).alias("cid"),
            to_double_array(vec_col).alias("cv"),
        )
        return _cell_screen_pairs(dd, cc, threshold, out_id=id_col)
    routed = assign_to_centroids(
        delta, centroids, id_col=id_col, vec_col=vec_col
    ).select("id", F.col("cluster").alias(cell_col))
    d = routed.join(
        delta.select(
            F.col(id_col).alias("id"),
            to_double_array(vec_col).alias("v"),
            l2_normalize_col(to_double_array(vec_col)).alias("nv"),
        ),
        "id",
    )
    m = corpus_cells.select(
        F.col(id_col).alias("cid"),
        F.col(cell_col).alias(cell_col),
        to_double_array(vec_col).alias("cv"),
        l2_normalize_col(to_double_array(vec_col)).alias("cnv"),
    )
    prefilter = dot_col(F.col("nv"), F.col("cnv")) >= F.lit(threshold - 0.01)
    pairs = (
        d.join(m, [cell_col])
        .filter(prefilter)
        .select(
            F.col("id").alias("dup_id"),
            F.col("cid").alias("keep_id"),
            round_half_up(
                cosine_similarity_col(F.col("v"), F.col("cv")), 4
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= F.lit(threshold))
    )
    return pairs.groupBy(F.col("dup_id").alias(id_col)).agg(
        F.min("keep_id").alias("canonical_id"),
        F.max("cos_sim").alias("max_cos"),
    )


def semantic_dedup_incremental(
    corpus: DataFrame,
    delta: DataFrame,
    k: int | None = None,
    iters: int = 3,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    route: str = "flat",
    route_threshold: int | None = None,
) -> DataFrame:
    """Incremental semantic dedup — the delta-vs-corpus form 100-TB
    pipelines actually run at ingest time: train the coarse quantizer
    on the CORPUS only (auto-k from the corpus count, same formula as
    ``semantic_dedup``), then screen ``delta`` against the corpus'
    in-cell members with ``semantic_dedup_screen``. The corpus is
    clustered once; the delta is routed, never re-trained — so a daily
    ingest pays |delta|-proportional cost while the batch twin would
    re-cluster corpus+delta from scratch.

    Fully deterministic (fixed-point k-means + frozen-quantizer
    routing, the ``cell_drift`` oracle shape), so a SQL oracle unrolls
    training on the corpus, one extra argmin for the delta, and the
    in-cell sweep. Output: (vec_id [delta ids], canonical_id, max_cos).
    """
    if k is None or route == "auto":
        n = corpus.count()
        if k is None:
            k = max(32, min(max(n, 1), auto_semantic_k(n, iters)))
        route = resolve_semantic_route(
            route, n, route_threshold, spark=corpus.sparkSession
        )
    if _assign_impl() != "sql":
        # the corpus-side assignment kernel echoes the vector (r14), so
        # corpus_cells needs no join back to the corpus for vec_col
        vecs = corpus.select(
            F.lit(0).alias("grp"),
            F.col(id_col).alias("id"),
            to_double_array(vec_col).alias("v"),
        )
        cent_map, hier_plans = _lloyd_cent_map(
            vecs, k, iters, scale=6, single_group=True, route=route
        )
        id_t = vecs.schema["id"].dataType.simpleString()
        corpus_cells = vecs.mapInArrow(
            _make_assign_v_fn(cent_map, hier_plans),
            f"id {id_t}, cluster int, v array<double>",
        ).select(
            F.col("id").alias(id_col),
            F.col("v").alias(vec_col),
            F.col("cluster").alias("cell"),
        )
        centroids = _centroids_df(
            corpus.sparkSession, cent_map, vecs.schema["grp"].dataType
        ).select("cluster", "c")
    else:
        assigned, centroids = kmeans_with_centroids(
            corpus, k=k, iters=iters, id_col=id_col, vec_col=vec_col,
            route=route,
        )
        corpus_cells = assigned.select(
            F.col("id").alias(id_col), F.col("cluster").alias("cell")
        ).join(
            corpus.select(F.col(id_col), F.col(vec_col)), id_col
        )
    return semantic_dedup_screen(
        corpus_cells,
        delta,
        centroids,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
    )


def semantic_decontaminate(
    train: DataFrame,
    eval_set: DataFrame,
    k: int | None = None,
    iters: int = 3,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    route: str = "auto",
    route_threshold: int | None = None,
) -> DataFrame:
    """SEMANTIC benchmark decontamination — the paraphrase-leakage
    screen the n-gram decontaminator (operators/text.py:
    contamination_overlap, cataloged as doc_decontaminate) structurally
    misses: a training document that restates an eval/benchmark item in
    different words shares no 4-gram but sits at near-identical
    EMBEDDING cosine. Cluster the eval set once (it is the small,
    frozen side — thousands of rows against a 100 TB train corpus),
    route every train vector onto the frozen eval quantizer (one
    broadcast argmin, linear in train), and compare each train vector
    only against its routed cell's eval members — exactly the
    ``semantic_dedup_incremental`` screen with corpus=eval, delta=train,
    so cost is |train| x (k + avg cell size), never |train| x |eval|.

    Output: one row per LEAKED train vector —
    ``(id_col, matched_eval_id = min matching eval id, cosine = max
    cosine over matching eval rows)``. Reference analog: none (the
    reference has no similarity machinery, SURVEY.md §2); this is the
    embedding-side half of the decontamination story LLM data pipelines
    run before training."""
    out = semantic_dedup_incremental(
        eval_set,
        train,
        k=k,
        iters=iters,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        route=route,
        route_threshold=route_threshold,
    )
    return out.select(
        F.col(id_col),
        F.col("canonical_id").alias("matched_eval_id"),
        F.col("max_cos").alias("cosine"),
    )


def semantic_decontaminate_from_index(
    train: DataFrame,
    eval_cells: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``semantic_decontaminate`` against a PRE-BUILT frozen eval index
    (VERDICT r12 #1): the k-means re-train ``semantic_decontaminate``
    pays on every invocation is PURE PRECOMPUTE — the eval set is
    frozen between benchmark re-publications — so a deployment builds
    the index once (streaming/embeddings.py:build_eval_index +
    save_eval_index) and every later curation run screens through this
    entry point: one broadcast argmin onto the stored centroids plus
    the in-cell compare, nothing else. Output — and therefore any
    oracle — is IDENTICAL to the recompute form when the index was
    built with the same (k, iters, route) pricing, because storage
    changes WHERE the clustering ran, not what it computed (the
    doc_signature_store precedent, CATALOG.md #34).

    ``eval_cells`` is (id_col, vec_col, cell) as ``build_eval_index``
    emits; ``centroids`` is (cluster, c). Cost per run:
    ``|train| x (k + avg cell size)`` with a k x dim broadcast —
    the 100-TB screen shape, now without the per-run train stage."""
    out = semantic_dedup_screen(
        eval_cells,
        train,
        centroids,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
    )
    return out.select(
        F.col(id_col),
        F.col("canonical_id").alias("matched_eval_id"),
        F.col("max_cos").alias("cosine"),
    )


def tune_nprobe(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    target_recall_permille: int = 900,
    cell_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    trace: list | None = None,
) -> tuple[int, int]:
    """Recall-driven nprobe selection — the measured-decision pattern
    (``auto_salted_join``, ``auto_semantic_k``) applied to ANN serving:
    audit recall@k of ``ivf_topk`` against the exact brute-force
    baseline ON A QUERY SAMPLE and return the SMALLEST nprobe meeting
    the target with its achieved recall_permille (exhaustion: the full
    cell count with its recall). This is how a deployment picks its
    latency/recall point from data instead of a guessed constant;
    recall estimation needs only the sample, never the production
    query stream.

    Recall@k is monotone non-decreasing in nprobe because probe sets
    are nested and a true-top-k member already ranked into the
    approximate top-k can never be displaced by widening the candidate
    set — any candidate outranking it under the shared (rounded cosine
    desc, neighbor id) total order would itself belong to the exact
    top-k (pytest-pinned monotonicity on the tradeoff curve).

    Cost: ONE pass. The monotonicity argument above is in fact an
    equality: a true-top-k neighbor appears in the probed search's
    top-k IFF its own cell is probed (anything displacing it would
    itself be exact-top-k), so recall@k at EVERY nprobe falls out of
    one histogram of the exact pairs' probe ranks — hits(p) =
    #{(q, n) exact : probe_rank_q(cell(n)) <= p}. The whole curve is
    computed by the exact baseline + one probe-rank join + one
    n_cells-row histogram collect, replacing one probed search PER
    bisection step (each a full candidate join + window) with a
    cumulative sum on the driver. Same decision, same achieved recall,
    O(1) scheduled jobs instead of O(log n_cells)."""
    cents = label_centroids(embeddings, dim, cell_col, vec_col)
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        to_double_array(vec_col).alias("qe"),
    )
    # identical probe order to ivf_topk: (cent_sim desc, cell asc)
    probe_w = Window.partitionBy("query_id").orderBy(
        F.desc("cent_sim"), F.col("cell")
    )
    ranks = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "cell",
            round_half_up(
                cosine_similarity_col(F.col("qe"), F.col("centroid")), 4
            ).alias("cent_sim"),
        )
        .withColumn("probe_rnk", F.row_number().over(probe_w))
        .select("query_id", "cell", "probe_rnk")
    )
    exact = brute_force_topk(
        embeddings, queries, k=k, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col,
    ).select("query_id", "neighbor_id")
    ecells = exact.join(
        embeddings.select(
            F.col(id_col).alias("neighbor_id"), F.col(cell_col).alias("cell")
        ),
        "neighbor_id",
    )
    # LEFT join + sentinel: an exact pair whose neighbor row is dropped by
    # the cell/rank joins (e.g. a NULL cell) lands at probe_rnk = -1 —
    # in the denominator, never in the cumulative sum — so malformed
    # input DEGRADES recall instead of silently inflating it (the old
    # probed-search path counted such pairs as misses; total therefore
    # still equals exact.count(), with no extra scheduled job)
    hist = {
        r["probe_rnk"]: r["n"]
        for r in ecells.join(ranks, ["query_id", "cell"], "left")
        .groupBy(F.coalesce("probe_rnk", F.lit(-1)).alias("probe_rnk"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()  # n_cells-bounded histogram of exact-pair probe ranks
    }
    n_cells = max(1, embeddings.select(cell_col).distinct().count())
    total = sum(hist.values())
    if total == 0:
        return 1, 1000

    cum = 0
    recall_by_p = {}
    for p in range(1, n_cells + 1):
        cum += hist.get(p, 0)
        recall_by_p[p] = int(cum * 1000 // total)
        if trace is not None:
            trace.append((p, recall_by_p[p]))  # decision provenance
    hi_recall = recall_by_p[n_cells]
    if hi_recall < target_recall_permille:
        return n_cells, hi_recall
    for p in range(1, n_cells + 1):
        if recall_by_p[p] >= target_recall_permille:
            return p, recall_by_p[p]
    return n_cells, hi_recall


def tune_bands(
    docs: DataFrame,
    num_perm: int = 64,
    candidate_bands: tuple[int, ...] = (4, 8, 16, 32),
    threshold: float = 0.8,
    target_recall_permille: int = 900,
    n: int = 3,
    seed: int = 42,
    id_col: str = "doc_id",
    text_col: str = "text",
    trace: list | None = None,
) -> tuple[int, int]:
    """Recall-driven LSH banding selection — the measured-decision
    pattern (``tune_nprobe``, ``auto_salted_join``, ``auto_semantic_k``)
    applied to the MinHash banding knob, closing the loop
    ``doc_lsh_band_tradeoff`` measures (VERDICT r8 #5): walk the
    candidate bandings from cheapest to most expensive (fewer bands =
    coarser buckets = fewer candidate pairs to exact-verify; P(candidate)
    = 1 - (1 - j^r)^b rises with b) and return the FIRST banding whose
    measured recall of true >= ``threshold`` pairs meets the target,
    with its achieved recall_permille. Exhausting the list returns the
    last banding and its (best-achieved) recall — same contract as
    tune_nprobe.

    Cost: signatures once (localCheckpoint, reused per candidate), the
    exact pair baseline once (the lossless inverted-index path, never
    all-pairs) ON THE TUNING SAMPLE — a deployment tunes on a sample,
    never the production corpus — then one band-keyed self-join + two
    count aggregates per candidate banding."""
    sigs = minhash_signatures(
        docs, id_col=id_col, text_col=text_col, n=n,
        num_perm=num_perm, seed=seed,
    ).localCheckpoint(eager=True)
    exact = (
        ngram_jaccard_pairs(
            docs, id_col=id_col, text_col=text_col, n=n, threshold=threshold
        )
        .select("doc_id_a", "doc_id_b")
        .localCheckpoint(eager=True)
    )
    total = exact.count()
    if total == 0:
        return candidate_bands[0], 1000
    best = 0
    for bands in candidate_bands:
        br = _band_rows(sigs, num_perm, bands)
        x, y = br.alias("x"), br.alias("y")
        cand = (
            x.join(
                y,
                (F.col("x.band") == F.col("y.band"))
                & (F.col("x.band_hash") == F.col("y.band_hash"))
                & (F.col("x.id") < F.col("y.id")),
            )
            .select(
                F.col("x.id").alias("doc_id_a"),
                F.col("y.id").alias("doc_id_b"),
            )
            .distinct()
        )
        hits = cand.join(exact, ["doc_id_a", "doc_id_b"]).count()
        best = hits * 1000 // total
        if trace is not None:
            trace.append((bands, int(best)))  # decision provenance
        if best >= target_recall_permille:
            return bands, int(best)
    return candidate_bands[-1], int(best)


def hard_negative_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query, the
    top-k most-similar candidates with a DIFFERENT label — the examples a
    retrieval/embedding model most needs to push apart.

    Same broadcast-queries shape as ``brute_force_topk`` with the label
    inequality fused into the scoring join, so disqualified candidates
    never reach the per-query top-k window.
    """
    cand = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("cand_label"),
        to_double_array(vec_col).alias("ce"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        to_double_array(vec_col).alias("qe"),
    )
    scored = (
        cand.join(
            F.broadcast(q), F.col("cand_label") != F.col("query_label")
        )
        .select(
            "query_id",
            "neighbor_id",
            "cand_label",
            round_half_up(
                cosine_similarity_col(F.col("qe"), F.col("ce")), 4
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id", "neighbor_id", "cand_label", "cos_sim",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


def lsh_band_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """LSH bucket-size histogram: how many (band, key) buckets exist at
    each occupancy, and how many candidate pairs each occupancy class
    contributes (size*(size-1)/2 per bucket) — the fan-out audit run
    BEFORE a corpus-scale near-dup pass. Candidate-join cost is the sum
    of per-bucket pair counts, so a hub bucket (boilerplate band key
    shared by thousands of documents) shows up here as a single row with
    an enormous pair mass — the signal to cap or quarantine hub keys,
    and the band/rows tuning table (more rows per band -> smaller
    buckets -> fewer candidates, lower recall).

    Shape: the standard signature aggregate (one explode + one groupBy),
    band explode, then two hash aggregations over BUCKET-sized frames —
    the corpus pair join itself is never executed. Integer-exact
    throughout (the pair formula uses integer division; the product of
    two consecutive integers is even, so nothing truncates).
    """
    if num_perm % bands != 0:
        raise ValueError(
            f"bands={bands} must divide num_perm={num_perm}: _band_rows "
            "would silently drop the trailing "
            f"{num_perm % bands} permutations and audit a weaker sketch"
        )
    sigs = minhash_signatures(
        docs, id_col=id_col, text_col=text_col, n=n, num_perm=num_perm, seed=seed
    )
    bucket = (
        _band_rows(sigs, num_perm, bands)
        .groupBy("band", "band_hash")
        .agg(F.count(F.lit(1)).cast("long").alias("bucket_size"))
    )
    return (
        bucket.groupBy("bucket_size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_buckets"))
        .select(
            "bucket_size",
            "n_buckets",
            # integer `div` throughout: `/` would promote to double and go
            # inexact past 2^53 — exactly the hub-bucket magnitudes this
            # audit exists to expose (the oracle uses DuckDB's exact `//`)
            F.expr("n_buckets * ((bucket_size * (bucket_size - 1)) div 2)")
            .cast("long")
            .alias("n_candidate_pairs"),
        )
    )


def tune_lsh_bands(
    docs: DataFrame,
    candidates: list[int] | None = None,
    target_recall_permille: int = 900,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    threshold: float = 0.8,
    seed: int = 42,
) -> tuple[int, int, int]:
    """Recall-driven band-count selection — the measured-decision pattern
    (``tune_nprobe``, ``auto_salted_join``, ``auto_semantic_k``) applied
    to MinHash LSH: for each candidate band count (fewer bands = more
    rows per band = tighter buckets = fewer candidates but lower
    recall), audit the verified LSH pair set against the exact
    inverted-index Jaccard ground truth ON A SAMPLE, and return the
    CHEAPEST configuration meeting the recall target as
    (bands, recall_permille, candidate_mass). This is how a deployment
    picks its cost/recall point from data instead of the 16-band
    default; the exact baseline runs once and is reused per candidate.

    Candidates are evaluated cheapest-first (ascending bands), so the
    first configuration to meet the target is returned; if none does,
    the best-recall one is. ``candidate_mass`` (sum of per-bucket
    pair counts, from the same aggregate as ``lsh_band_stats``) is the
    predicted join cost at corpus scale — the number a capacity plan
    multiplies out before committing to a 100-TB run.

    The corpus-wide signature aggregate (the expensive stage) and the
    exact ground truth are each built ONCE and checkpointed; every
    candidate band count only re-derives band rows from the stored
    signatures and verifies its (vanishing-fraction) candidate pairs —
    the same candidate+verify semantics as ``minhash_near_dup_pairs``,
    without re-shingling the corpus per configuration.
    """
    if candidates is None:
        candidates = [b for b in (4, 8, 16, 32) if num_perm % b == 0]
    else:
        bad = [b for b in candidates if b <= 0 or num_perm % b != 0]
        if bad:
            raise ValueError(
                f"candidate band counts {bad} do not divide "
                f"num_perm={num_perm}: each would silently audit a "
                "weaker sketch (trailing permutations dropped)"
            )
    exact = (
        ngram_jaccard_pairs(
            docs, id_col=id_col, text_col=text_col, n=n, threshold=threshold
        )
        .select("doc_id_a", "doc_id_b")
        .localCheckpoint(eager=True)  # ground truth built once
    )
    total = exact.count()
    sigs = minhash_signatures(
        docs, id_col=id_col, text_col=text_col, n=n, num_perm=num_perm, seed=seed
    ).localCheckpoint(eager=True)  # signatures shared by every candidate
    txt = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
    best: tuple[int, int, int] | None = None
    for bands in sorted(candidates):
        band_rows = _band_rows(sigs, num_perm, bands)
        left, right = band_rows.alias("x"), band_rows.alias("y")
        cand = (
            left.join(
                right,
                (F.col("x.band") == F.col("y.band"))
                & (F.col("x.band_hash") == F.col("y.band_hash"))
                & (F.col("x.id") < F.col("y.id")),
            )
            .select(
                F.col("x.id").alias("doc_id_a"), F.col("y.id").alias("doc_id_b")
            )
            .distinct()
        )
        joined = cand.join(
            txt.withColumnsRenamed({"id": "doc_id_a", "t": "t_a"}), "doc_id_a"
        ).join(
            txt.withColumnsRenamed({"id": "doc_id_b", "t": "t_b"}), "doc_id_b"
        )
        if _assign_impl() != "sql":
            found = _pair_jaccard_verify(
                joined.select("doc_id_a", "doc_id_b", "t_a", "t_b"),
                n,
                "doc_id_a",
                "doc_id_b",
            ).filter(F.col("jaccard") >= threshold).select(
                "doc_id_a", "doc_id_b"
            )
        else:
            found = (
                joined
                .select(
                    "doc_id_a",
                    "doc_id_b",
                    round_half_up(
                        jaccard_cols(
                            shingles_col(tokens_col("t_a"), n),
                            shingles_col(tokens_col("t_b"), n),
                        ),
                        4,
                    ).alias("jaccard"),
                )
                .filter(F.col("jaccard") >= threshold)
                .select("doc_id_a", "doc_id_b")
            )
        recall = (
            1000
            if total == 0
            else exact.join(found, ["doc_id_a", "doc_id_b"]).count() * 1000 // total
        )
        # integer `div` + long sum: `/` would go double-inexact past 2^53,
        # the hub-bucket magnitudes this number exists to predict
        mass = (
            band_rows.groupBy("band", "band_hash")
            .agg(F.count(F.lit(1)).alias("sz"))
            .agg(F.sum(F.expr("(sz * (sz - 1)) div 2")).cast("long"))
            .first()[0]
            or 0
        )
        if best is None or recall > best[1]:
            best = (bands, recall, int(mass))
        if recall >= target_recall_permille:
            return bands, recall, int(mass)
    assert best is not None
    return best


def containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold_permille: int = 800,
    df_cap: int | None = None,
) -> DataFrame:
    """EXACT directional shingle-containment pairs via the inverted
    shingle index: containment(A in B) = |sh(A) ∩ sh(B)| * 1000 div
    |sh(A)| — the ASYMMETRIC near-dup measure. Jaccard misses a short
    document quoted wholesale inside a much longer one (the union term
    dilutes it); containment flags it at full strength, which is why
    quote/subset detection and contamination screens use containment,
    not Jaccard (the same reason `doc_decontaminate` checks benchmark
    n-grams one-sidedly).

    Same lossless candidate generation as ``ngram_jaccard_pairs``: any
    pair with containment > 0 shares a shingle, so the posting-list
    equi-join enumerates a candidate superset and the exact score needs
    only set sizes (one undirected count per pair, emitted in both
    directions). Cost is posting-list-bounded, never corpus²; a hub
    shingle (boilerplate appearing in a large fraction of the corpus)
    makes its posting list — and the self-join within it — quadratic,
    so ``df_cap`` (same parameter as ``shared_span_pairs``) drops
    shingles with document frequency above the cap BEFORE sizes and the
    join: both |sh(A)| and the intersection are then computed over the
    non-hub shingle universe (self-consistent containment on the capped
    universe; pairs whose overlap is pure boilerplate disappear, true
    high-containment pairs survive because their shared shingles are
    mostly non-hub). Default ``None`` keeps the full-universe EXACT
    semantics (the oracle shape). All-integer output (permille `div`),
    so cross-engine parity is bit-exact with no rounding contract.

    Reference analog: none (SURVEY.md §1.4 dedups whole rows by key);
    north-star LLM-pipeline scope.
    """
    # fan_out BEFORE the shingle projection (see ngram_jaccard_pairs): the
    # single-row-group scan would otherwise shingle the corpus in one task
    base = fan_out(
        docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
    ).select(
        "id",
        F.explode(
            F.array_distinct(shingles_col(tokens_col("_t"), n))
        ).alias("shingle"),
    )
    if df_cap is not None:
        rare = (
            base.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= df_cap)
            .select("shingle")
        )
        base = base.join(rare, "shingle")
    sizes = base.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = base.alias("a"), base.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    scored = (
        common.join(
            sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na")),
            "id_a",
        )
        .join(
            sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb")),
            "id_b",
        )
    )
    directed = scored.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("contained_id"),
                    F.col("id_b").alias("container_id"),
                    F.col("na").alias("n_contained"),
                ),
                F.struct(
                    F.col("id_b").alias("contained_id"),
                    F.col("id_a").alias("container_id"),
                    F.col("nb").alias("n_contained"),
                ),
            )
        ).alias("d"),
        "c",
        "na",
        "nb",
    ).select(
        F.col("d.contained_id").alias("contained_id"),
        F.col("d.container_id").alias("container_id"),
        F.col("c").alias("n_shared"),
        F.col("d.n_contained").alias("n_contained"),
        F.expr("(c * 1000) div d.n_contained").cast("long").alias(
            "containment_permille"
        ),
        F.expr("(c * 1000) div (na + nb - c)").cast("long").alias(
            "jaccard_permille"
        ),
    )
    return directed.filter(
        F.col("containment_permille") >= F.lit(threshold_permille)
    )


def kcenter_select(
    emb: DataFrame,
    k: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy farthest-point (Gonzalez) k-center selection — the
    2-approximation coreset/diversity sampler: start from the lowest-id
    vector, then k-1 times pick the vector FARTHEST from everything
    selected so far (exact int64 fixed-point distances, min-id
    tie-break). Returns k+1 rows ``(center_rank, vec_id, dist_fx)``:
    ranks 1..k are the selected coreset (dist_fx = the min distance to
    the previously-selected set at selection time, 0 for the seed) and
    rank k+1 is the coverage WITNESS — the point maximizing min-distance
    to all k centers, whose dist_fx is the coverage radius the selection
    guarantees. This is the diverse-subset primitive behind coreset
    curation, seed selection for clustering, and embedding-space
    coverage audits.

    Scale shape: each round is ONE scan + running-min column update +
    ``TakeOrderedAndProject(limit=1)`` — k+1 linear jobs, no window, no
    pair join. The selected vectors cross the driver as k 1-row
    collects (count-bounded by the k parameter — the same justified
    bounded-driver-state exception as the union-find edge collect,
    ``operators/dedup.py``) and re-enter each following round as an
    array literal consumed by the compact zip_with/aggregate distance
    fold (bit-identical to the unrolled chain; see ``_fx_sq_dist``).
    The running-min ``md`` column is MATERIALIZED (localCheckpoint)
    every round, so round r's plan contains exactly ONE distance
    expression against the stored column — O(k) total plan/codegen
    work, not the O(k²) a lazily-chained ``least(...)`` lineage would
    compile (each round would otherwise re-evaluate every prior round's
    64-term distance). Identical results; the checkpoint stores only
    (id, v, md).

    Degenerate inputs: an EMPTY frame raises ``ValueError``. With
    1 <= n < k+1 distinct vectors the greedy rule still emits k+1 rows —
    once every point is at running-min distance 0 the min-id point is
    re-selected as center/witness with dist_fx = 0 (duplicate-center
    semantics; the SQL oracle mirrors this exactly).

    Reference analog: none; north-star LLM-data-curation scope.
    """
    base = (
        emb.select(
            F.col(id_col).alias("id"), to_double_array(vec_col).alias("v")
        )
        .localCheckpoint(eager=True)
    )
    spark = emb.sparkSession
    seed = base.orderBy("id").limit(1).collect()
    if not seed:
        raise ValueError("kcenter_select: embeddings frame is empty")
    first = seed[0]
    out: list[tuple[int, int, int]] = [(1, first["id"], 0)]
    last_vec = first["v"]
    cur = base
    have_md = False
    for rank in range(2, k + 2):
        lit_vec = F.array(*[F.lit(float(x)) for x in last_vec])
        # dim=None -> the compact zip_with/aggregate fold (bit-identical
        # to the unrolled chain): the loop pays plan analysis + codegen k
        # times, and the unrolled 64-term tree costs ~1.5 s/round there vs
        # ~0.25 s for the fold. One-shot ops keep the unrolled codegen'd
        # variant; the sequential loop trades per-row codegen for O(1)
        # plan size per round.
        d = _fx_sq_dist(F.col("v"), lit_vec, None)
        # Lazy checkpoint: the top-1 job below evaluates every partition
        # (global TakeOrdered), which materializes the checkpoint in the
        # SAME job — one Spark job per round instead of two.
        cur = cur.withColumn(
            "md", d if not have_md else F.least(F.col("md"), d)
        ).localCheckpoint(eager=False)
        have_md = True
        top = cur.orderBy(F.desc("md"), "id").limit(1).collect()[0]
        out.append((rank, top["id"], top["md"]))
        last_vec = top["v"]
    return spark.createDataFrame(
        out, "center_rank long, vec_id long, dist_fx long"
    )


def kcenter_vs_random_audit(
    emb: DataFrame,
    k: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Coverage-quality audit for the greedy k-center selection — the
    selection twin of ``minhash_recall_audit`` / ``emb_ivf_recall_audit``
    (every selection op in this engine ships with its audit): for the
    k greedy centers AND a deterministic pseudo-random k-subset
    (md5-of-id order — engine-independent, reproducible), compute the
    EXACT coverage each achieves over the whole corpus. Returns one row
    per method ``(method, radius_fx, sum_min_fx)``: radius_fx = max
    over points of the min fixed-point distance to that method's
    centers (the coverage radius; for 'kcenter' it equals the witness
    dist_fx of ``kcenter_select`` by construction), sum_min_fx = the
    exact int64 sum of per-point min distances (the k-medoids-style
    total-coverage cost). Greedy k-center carries a 2-approximation
    guarantee on the radius; this audit measures the realized gap vs
    the random baseline.

    Scale shape: the k+k center vectors broadcast onto ONE linear scan
    of the corpus (crossJoin with a 2k-row broadcast frame — bounded by
    the k parameter, never data-sized), then a (method, point)-keyed
    min and a 2-row final aggregate. No pair join, no window.

    Reference analog: none; north-star LLM-data-curation scope.
    """
    base = emb.select(
        F.col(id_col).alias("id"), to_double_array(vec_col).alias("v")
    ).localCheckpoint(eager=True)
    kc = (
        kcenter_select(emb, k=k, dim=dim, id_col=id_col, vec_col=vec_col)
        .filter(F.col("center_rank") <= k)
        .select(F.col("vec_id").alias("cid"), F.lit("kcenter").alias("method"))
    )
    rnd = (
        base.orderBy(F.md5(F.col("id").cast("string")), "id")
        .limit(k)
        .select(F.col("id").alias("cid"), F.lit("random_hash").alias("method"))
    )
    cvec = kc.unionByName(rnd).join(
        base.select(F.col("id").alias("cid"), F.col("v").alias("cv")), "cid"
    )
    d = base.crossJoin(F.broadcast(cvec)).select(
        "method",
        F.col("id").alias("pid"),
        # fold form: bit-identical, ~64x smaller expression tree (see
        # label_separation_audit — this audit is likewise planning-bound)
        _fx_sq_dist(F.col("v"), F.col("cv"), None).alias("dist"),
    )
    m = d.groupBy("method", "pid").agg(F.min("dist").alias("mind"))
    return m.groupBy("method").agg(
        F.max("mind").cast("long").alias("radius_fx"),
        F.sum("mind").cast("long").alias("sum_min_fx"),
    )


def label_separation_audit(
    emb: DataFrame,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Cluster-separation audit over labeled embeddings — the
    Fisher-style quality check of the centroid family
    (``emb_label_centroids`` publishes the centroids; this measures
    whether they separate): per label, the exact fixed-point WITHIN
    scatter (mean squared distance of the label's vectors to its own
    centroid) vs the BETWEEN margin (min squared distance from its
    centroid to any other label's centroid), plus the nearest rival
    label. ``separation_permille = between_min * 1000 / within_mean``
    computed as one integer division ``(between_min * n * 1000) div
    within_sum`` — > 1000 means the nearest rival centroid sits outside
    the label's own scatter radius (well-separated); << 1000 flags
    label confusion/mislabeled clusters before training.

    Centroids are the PUBLISHED ones (4dp-rounded order-independent
    fixed-point mean — identical definition to emb_label_centroids), so
    the audit measures exactly what downstream consumers read. All
    distances are exact int64 fixed point. Overflow headroom:
    between_min * n * 1000 <= ~2.6e10 * n, int64-safe to n ~ 3.5e8
    vectors per label; past that the one-line change is
    DECIMAL(38)/HUGEINT on both engines.

    Scale shape: one posexplode + (label, dim)-keyed mean for the
    centroids (labels x dims rows), centroid arrays broadcast onto ONE
    corpus scan for the within scatter, and a labels² centroid
    crossJoin for the between margins — nothing data-sized ever pairs.

    Reference analog: none; north-star LLM-data-curation scope.
    """
    base = emb.select(
        F.col(label_col).alias("label"), to_double_array(vec_col).alias("v")
    )
    cent = (
        base.select("label", F.posexplode("v").alias("pos", "val"))
        .groupBy("label", (F.col("pos") + 1).alias("dim"))
        .agg(round_half_up(avg_fixed_point(F.col("val")), 4).alias("cv"))
    )
    cent_arr = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "cv"))),
            lambda s: s["cv"],
        ).alias("c")
    )
    within = (
        base.join(F.broadcast(cent_arr), "label")
        .select(
            "label",
            # fold form (dim=None): bit-identical to the unrolled chain
            # (int64 addition is associative — _fx_sq_dist docstring) but
            # a ~64x smaller expression tree; this query is DRIVER-bound
            # (measured 0.8 s of job wall inside 4.5 s: Catalyst
            # re-optimizes three unrolled 64-term trees per AQE stage),
            # while its row counts (corpus x 1, labels^2) are far too
            # small for interpreted-fold eval cost to matter
            _fx_sq_dist(F.col("v"), F.col("c"), None).alias("dist"),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum("dist").cast("long").alias("ws"),
        )
    )
    a = cent_arr.select(
        F.col("label").alias("la"), F.col("c").alias("ca")
    )
    b = cent_arr.select(
        F.col("label").alias("lb"), F.col("c").alias("cb")
    )
    bd = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("la") != F.col("lb"))
        .select(
            "la",
            "lb",
            _fx_sq_dist(F.col("ca"), F.col("cb"), None).alias("dist"),
        )
    )
    bm = bd.groupBy(F.col("la").alias("label")).agg(
        F.min("dist").cast("long").alias("between_min_fx")
    )
    nr = (
        bd.join(
            bm,
            (bd.la == bm.label) & (bd.dist == bm.between_min_fx),
        )
        .groupBy(F.col("la").alias("label"))
        .agg(F.min("lb").alias("nearest_label"))
    )
    return (
        within.join(bm, "label")
        .join(nr, "label")
        .select(
            "label",
            "n_vecs",
            F.expr("ws div n_vecs").cast("long").alias("within_mean_fx"),
            "nearest_label",
            "between_min_fx",
            F.when(
                F.col("ws") > 0,
                F.expr("(between_min_fx * n_vecs * 1000) div ws"),
            )
            .cast("long")
            .alias("separation_permille"),
        )
    )


def top_pc_power_iteration(
    emb: DataFrame,
    iterations: int = 3,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top principal axis of the (uncentered) second-moment matrix by
    POWER ITERATION — distributed iterative linear algebra as two
    aggregates per round, with a cross-engine-exact arithmetic contract:

        d_i  = sum_d floor(x_id * w_d * 1e6 + 0.5)        (int64 fold)
        v_d  = sum_i floor(d_i * x_id + 0.5)              (int64)
        nrm  = sqrt(double(sum_d v_d^2))   (exact DECIMAL(38) sum)
        w_d  = round_half_up(v_d / nrm, 6)                (next round)

    Every cross-row sum is INTEGER (order-independent — engine fold
    order cannot drift it); the only float ops are per-element products,
    one exact-integer-to-double conversion, one IEEE sqrt and one IEEE
    division — all correctly-rounded and identical in any engine, so the
    oracle matches bit-for-bit, sign included (the deterministic
    all-0.125 seed fixes the eigenvector sign). Uncentered second moment
    = the top right-singular vector of the raw matrix — the dominant
    embedding-space axis used for anisotropy audits ("all-but-the-top"),
    ABTT-style post-processing decisions, and drift detection on the
    principal direction.

    Scale shape: per round ONE corpus scan computing the d_i fold
    against the broadcast-literal w (compact zip_with fold — the
    kcenter O(rounds)-plan discipline), a posexplode, and a dim-keyed
    integer aggregate (64 keys, map-side partials). The 64-row v
    vector crosses the driver per round (dim-bounded collects — the
    kcenter/union-find justified exception) and the driver replicates
    the engines' IEEE normalize exactly (same floor/sqrt/divide ops).
    The RETURNED frame is computed engine-side from the final round's
    aggregate. Precision headroom: d_i <= dim * 1e6 * max|x|, so
    sum_i floor(d_i * x) stays int64-safe past 1e9 rows.

    Output: ``(dim, pc1)`` — the unit top-PC components, 4dp.

    Reference analog: none; north-star LLM-data-curation scope.
    """
    import math

    # fan_out BEFORE the checkpoint: every round re-scans this cached
    # frame, and a single-row-group testdata scan would pin each round's
    # fold+posexplode to ONE task (no-op passthrough on wide scans)
    base = fan_out(
        emb.select(to_double_array(vec_col).alias("v"))
    ).localCheckpoint(eager=True)
    w = [0.125] * dim
    last_v = None
    for _ in range(iterations):
        wlit = F.array(*[F.lit(float(x)) for x in w])
        prod = F.zip_with(
            F.col("v"),
            wlit,
            lambda a, b: F.floor(a * b * F.lit(1_000_000.0) + F.lit(0.5)).cast(
                "long"
            ),
        )
        dfx = F.aggregate(
            prod, F.lit(0).cast("long"), lambda acc, x: acc + x
        )
        t = base.select(
            dfx.alias("dfx"), F.posexplode("v").alias("pos", "val")
        )
        vfr = (
            t.groupBy((F.col("pos") + 1).cast("long").alias("dim"))
            .agg(
                F.sum(
                    F.floor(
                        F.col("dfx").cast("double") * F.col("val")
                        + F.lit(0.5)
                    ).cast("long")
                )
                .cast("long")
                .alias("vfx")
            )
            # LAZY checkpoint: the collect below is the materializing job
            # (one scheduled job per round, not two) and downstream
            # consumers of the final round read the cache
            .localCheckpoint(eager=False)
        )
        last_v = vfr
        rows = {r["dim"]: r["vfx"] for r in vfr.collect()}
        nrm = math.sqrt(float(sum(v * v for v in rows.values())))
        w = [
            math.floor((rows[d] / nrm) * 1_000_000.0 + 0.5) / 1_000_000.0
            for d in range(1, dim + 1)
        ]
    nrm_frame = last_v.agg(
        F.sqrt(
            F.sum(
                F.col("vfx").cast("decimal(38,0)") * F.col("vfx")
            ).cast("double")
        ).alias("nrm")
    )
    return last_v.crossJoin(F.broadcast(nrm_frame)).select(
        "dim",
        round_half_up(F.col("vfx") / F.col("nrm"), 4).alias("pc1"),
    )


def anisotropy_audit(
    emb: DataFrame,
    iterations: int = 3,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space anisotropy audit — the audit twin of
    ``top_pc_power_iteration`` (every selection/projection op in this
    engine ships with its audit): how much of the corpus' total
    second-moment energy the PUBLISHED top principal axis (the
    4dp-rounded ``pc1`` consumers read) actually captures.

        t  = sum_{i,d} floor(x_id^2 * 1e8 + 0.5)      (int64, exact)
        e  = sum_i dot_i^2, dot_i = sum_d floor(x_id * pc_d * 1e6 + 0.5)
             (per-vec int64 fold; squares summed in DECIMAL(38)/HUGEINT)
        anisotropy_permille = (e * 1000) div (t * 10000)
             (unit-corrected: dot^2 carries 1e12, t carries 1e8)

    High anisotropy (a large share of variance on ONE axis) is the
    classic contextual-embedding pathology that all-but-the-top
    post-processing removes; this one number decides whether ABTT-style
    correction is worth running. One row:
    ``(n_vecs, total_energy_fx, top_axis_energy_permille)``.

    Scale shape: the 64-row published axis broadcast-joins the exploded
    corpus once; both energies are single aggregates with map-side
    partials (integer/decimal sums — order-independent, bit-exact
    cross-engine). No driver state at all.

    Reference analog: none; north-star LLM-data-curation scope.
    """
    pc = top_pc_power_iteration(
        emb, iterations=iterations, dim=dim, id_col=id_col, vec_col=vec_col
    )
    ev = emb.select(
        F.col(id_col).alias("id"),
        F.posexplode(to_double_array(vec_col)).alias("pos", "val"),
    ).select("id", (F.col("pos") + 1).cast("long").alias("dim"), "val")
    dots = (
        ev.join(F.broadcast(pc), "dim")
        .groupBy("id")
        .agg(
            F.sum(
                F.floor(
                    F.col("val") * F.col("pc1") * F.lit(1_000_000.0)
                    + F.lit(0.5)
                ).cast("long")
            )
            .cast("long")
            .alias("dfx")
        )
    )
    e = dots.agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum(
            F.col("dfx").cast("decimal(38,0)") * F.col("dfx")
        ).alias("e_big"),
    )
    t = ev.agg(
        F.sum(
            F.floor(
                F.col("val") * F.col("val") * F.lit(100_000_000.0)
                + F.lit(0.5)
            ).cast("long")
        )
        .cast("long")
        .alias("total_energy_fx")
    )
    return e.crossJoin(F.broadcast(t)).select(
        "n_vecs",
        "total_energy_fx",
        F.expr(
            "CAST((e_big * 1000) div (CAST(total_energy_fx AS DECIMAL(38,0))"
            " * 10000) AS BIGINT)"
        ).alias("top_axis_energy_permille"),
    )


def prefix_filter_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold_permille: int = 800,
) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs via PREFIX FILTERING (the
    PPJoin/AllPairs candidate rule) — same output as
    ``ngram_jaccard_pairs`` at a fraction of its index-join cost.

    Rule: order every document's shingles by a single global total
    order (document frequency ascending, shingle text as tie-break —
    rarest first) and index only the first
    ``|s| - ceil(t*|s|) + 1`` shingles. Lossless for J >= t: a
    qualifying pair shares >= ceil(t*|a|) shingles, at most
    ``ceil(t*|a|) - 1`` of a's shingles fall outside its prefix, so
    the globally-smallest SHARED shingle sits inside BOTH prefixes
    (anything before it in either list is unshared by minimality).
    Candidates therefore come from the prefix-only posting lists —
    the frequent-shingle tails that dominate ``ngram_jaccard_pairs``'
    posting-list join never enter the index, exactly the hub problem
    ``df_cap`` mitigates, solved here WITHOUT changing the shingle
    universe: the result is bit-identical to the full-universe exact
    baseline (shared oracle). Verification joins the two distinct-
    shingle arrays per surviving candidate and computes
    J = c / (na + nb - c) with the engine-wide half-up rounding.

    ``threshold_permille`` keeps the prefix length integer-exact
    (ceil(t*s) = (t_pm*s + 999) div 1000) — an IEEE ``0.8 * s`` can
    land a hair above 4s/5 and silently lengthen the prefix.

    Scale shape: one shingle explode + df aggregate, a per-document
    rank window (document-sized partitions), the prefix self-join on
    (shingle) posting lists bounded by prefix occupancy, then a
    candidate-pair-sized verify join. Nothing touches corpus^2.
    Reference analog: none (north-star dedup scope; the exact twin of
    the LSH screen in minhash_near_dup_pairs).
    """
    t_pm = threshold_permille
    # fan_out BEFORE the shingle projection (see ngram_jaccard_pairs), so
    # the checkpointed shingle arrays are computed across the cluster, not
    # in the scan's single task
    sh_arr = (
        fan_out(
            docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
        )
        .select(
            "id",
            F.array_distinct(shingles_col(tokens_col("_t"), n)).alias("sh"),
        )
        .localCheckpoint(eager=True)
    )  # reused: prefix index + both verify sides
    base = sh_arr.select("id", F.explode("sh").alias("shingle"))
    dfreq = base.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    rank_w = Window.partitionBy("id").orderBy("df", "shingle")
    ranked = (
        base.join(dfreq, "shingle")
        .withColumn("pos", F.row_number().over(rank_w))
        .join(
            sh_arr.select("id", F.size("sh").alias("n_sh")),
            "id",
        )
        .filter(
            F.col("pos")
            <= F.col("n_sh")
            - F.expr(f"({t_pm} * n_sh + 999) div 1000")
            + F.lit(1)
        )
        .select("id", "shingle")
    )
    cand = (
        ranked.alias("a")
        .join(
            ranked.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("doc_id_a"), F.col("b.id").alias("doc_id_b")
        )
        .distinct()
    )
    sa = sh_arr.select(F.col("id").alias("doc_id_a"), F.col("sh").alias("sa"))
    sb = sh_arr.select(F.col("id").alias("doc_id_b"), F.col("sh").alias("sb"))
    # NOTE (r14): a Python set-op kernel was A/B-tested here and LOST 3x
    # (5.8 -> 16.4 s): with the shingle arrays already computed and
    # checkpointed, the JVM's array_intersect pays no serialization,
    # while the kernel ships both arrays Arrow->Python per pair. The
    # §4.2 kernel only wins where the JVM side re-derives the sets per
    # pair (the text-kind verify sites in the minhash family).
    return (
        cand.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .withColumn("c", F.size(F.array_intersect("sa", "sb")))
        .select(
            "doc_id_a",
            "doc_id_b",
            round_half_up(
                F.col("c")
                / (F.size("sa") + F.size("sb") - F.col("c")),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= F.lit(t_pm) / 1000.0)
    )


def mmr_select(
    emb: DataFrame,
    k: int = 5,
    lambda_permille: int = 700,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance (MMR) diverse retrieval: greedily
    select ``k`` vectors balancing RELEVANCE to a query (here: the
    lowest-id vector, the deterministic anchor) against REDUNDANCY
    with what's already selected — the classic diversity re-ranker
    for retrieval-augmented pipelines, where the top-k nearest
    neighbors are often near-duplicates of each other and the
    marginal information of each addition collapses.

    Distance-form MMR, all integer: each round picks
    argmin(lambda_pm * dq - (1000 - lambda_pm) * md) with dq = exact
    int64 fixed-point squared distance to the query (computed ONCE)
    and md = min distance to the already-selected set (running-min
    column, materialized per round) — small query distance is
    relevant, large selected-distance is novel; the score is a pure
    int64 linear combination (can go negative; ordering only, no
    division), min-id tie-break. lambda=1000 degenerates to plain
    nearest-neighbor ranking, lambda=0 to farthest-point (k-center
    seeded at the query's nearest neighbor). Selected rows leave the
    candidate frame, so a highly-relevant item can't be re-picked.

    Scale shape: identical discipline to ``kcenter_select`` — the
    candidate frame (id, v, dq) is checkpointed once, each round is
    one filter + one running-min update + TakeOrdered(1), the
    running-min column materialized lazily per round (O(k) total plan
    work), selected vectors cross the driver as k 1-row collects
    (count-bounded driver state). Output: ``(mmr_rank, vec_id, dq_fx,
    md_fx)`` with md_fx = 0 for the first pick (empty selected set).

    Reference analog: none; north-star retrieval-curation scope.
    """
    if not 0 <= lambda_permille <= 1000:
        raise ValueError("mmr_select: lambda_permille must be in [0, 1000]")
    base = emb.select(
        F.col(id_col).alias("id"), to_double_array(vec_col).alias("v")
    ).localCheckpoint(eager=True)
    seed = base.orderBy("id").limit(1).collect()
    if not seed:
        raise ValueError("mmr_select: embeddings frame is empty")
    qid, qv = seed[0]["id"], seed[0]["v"]
    q_lit = F.array(*[F.lit(float(x)) for x in qv])
    cand = (
        base.filter(F.col("id") != qid)
        .withColumn("dq", _fx_sq_dist(F.col("v"), q_lit, None))
        .localCheckpoint(eager=True)  # dq computed exactly once
    )
    lam, mu = lambda_permille, 1000 - lambda_permille
    top = cand.orderBy("dq", "id").limit(1).collect()
    out: list[tuple[int, int, int, int]] = []
    cur = cand
    have_md = False
    last = None
    for rank in range(1, k + 1):
        if rank == 1:
            if not top:
                break
            out.append((1, top[0]["id"], top[0]["dq"], 0))
            last = top[0]
            continue
        lit_vec = F.array(*[F.lit(float(x)) for x in last["v"]])
        d = _fx_sq_dist(F.col("v"), lit_vec, None)
        cur = (
            cur.filter(F.col("id") != last["id"])
            .withColumn(
                "md", d if not have_md else F.least(F.col("md"), d)
            )
            .localCheckpoint(eager=False)  # materialized by the top-1 job
        )
        have_md = True
        nxt = (
            cur.withColumn(
                "score", F.expr(f"{lam} * dq - {mu} * md").cast("long")
            )
            .orderBy("score", "id")
            .limit(1)
            .collect()
        )
        if not nxt:
            break
        out.append((rank, nxt[0]["id"], nxt[0]["dq"], nxt[0]["md"]))
        last = nxt[0]
    return emb.sparkSession.createDataFrame(
        out, "mmr_rank long, vec_id long, dq_fx long, md_fx long"
    )


def containment_lsh_audit(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold_permille: int = 800,
    seed: int = 42,
) -> DataFrame:
    """Measures the Jaccard-LSH blind spot on ASYMMETRIC containment —
    one summary row comparing MinHash-ESTIMATED containment pairs
    against the exact inverted-index set (``containment_pairs``).

    The estimator: with m of ``num_perm`` minhash components matching
    and exact distinct-shingle sizes |A|, |B| (cheap one-pass counts),
    Jaccard ≈ m/num_perm, and since I = J(|A|+|B|)/(1+J) the shared-
    shingle count is Î = m(|A|+|B|)/(num_perm+m), giving

        containment(A in B) ≈ m * (|A|+|B|) * 1000
                              div ((num_perm + m) * |A|)

    — all-integer, engine-exact. The catch this audit quantifies:
    candidates come from JACCARD banding, and a short doc swallowed by
    a long one has high containment but DILUTED Jaccard, so its bands
    rarely collide — exactly the pairs the posting-list exact path
    (`containment_pairs`) or a one-sided screen (`doc_decontaminate`)
    exists for. Output: ``(n_exact, n_lsh, n_both,
    n_missed_asymmetric, recall, precision)`` at the shared threshold;
    a low recall here is the measured justification for keeping the
    exact containment operator in the 100 TB pipeline instead of
    reusing the near-dup LSH screen.

    Scale shape: signatures + banding are the linear MinHash path; the
    estimate needs only the candidate pairs, two size-join lookups and
    a num_perm-term component comparison — never the shingle sets; the
    exact side is the posting-list-bounded operator it audits.
    """
    # the signature frame feeds FOUR consumers (both band-join sides and
    # both signature-component joins); the kernel stage is map-only with no
    # exchange for AQE to reuse, so a lazy localCheckpoint materializes the
    # skinny signatures once per invocation (the minhash_near_dup_pairs
    # discipline) instead of re-running tokenize+md5+minima four times
    sigs = minhash_signatures(
        docs, id_col, text_col, n, num_perm, seed
    ).localCheckpoint(eager=False)
    cand = (
        _band_rows(sigs, num_perm, bands)
        .alias("x")
        .join(
            _band_rows(sigs, num_perm, bands).alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.band_hash") == F.col("y.band_hash"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    # fan_out BEFORE the shingle projection (see ngram_jaccard_pairs)
    sizes = (
        fan_out(
            docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
        )
        .select(
            "id",
            F.size(
                F.array_distinct(shingles_col(tokens_col("_t"), n))
            ).cast("long").alias("n_sh"),
        )
    )
    m_col = F.expr(
        "aggregate(zip_with(sa, sb, (x, y) -> CASE WHEN x = y THEN 1"
        " ELSE 0 END), 0, (acc, v) -> acc + v)"
    ).cast("long")
    scored = (
        cand.join(
            sigs.select(F.col("id").alias("id_a"), F.col("signature").alias("sa")),
            "id_a",
        )
        .join(
            sigs.select(F.col("id").alias("id_b"), F.col("signature").alias("sb")),
            "id_b",
        )
        .select("id_a", "id_b", m_col.alias("m"))
        .join(
            sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na")),
            "id_a",
        )
        .join(
            sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb")),
            "id_b",
        )
    )
    est = (
        scored.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("id_a").alias("contained_id"),
                        F.col("id_b").alias("container_id"),
                        F.col("na").alias("nc"),
                    ),
                    F.struct(
                        F.col("id_b").alias("contained_id"),
                        F.col("id_a").alias("container_id"),
                        F.col("nb").alias("nc"),
                    ),
                )
            ).alias("d"),
            "m",
            "na",
            "nb",
        )
        .select(
            F.col("d.contained_id").alias("contained_id"),
            F.col("d.container_id").alias("container_id"),
            F.expr(
                f"m * (na + nb) * 1000 div (({num_perm} + m) * d.nc)"
            )
            .cast("long")
            .alias("est_permille"),
        )
        .filter(F.col("est_permille") >= threshold_permille)
        .select("contained_id", "container_id", F.lit(1).alias("in_l"))
    )
    exact = containment_pairs(
        docs, id_col, text_col, n, threshold_permille
    ).select("contained_id", "container_id", F.lit(1).alias("in_e"))
    keys = ["contained_id", "container_id"]
    u = exact.join(est, keys, "full_outer").select(
        F.coalesce("in_e", F.lit(0)).alias("in_e"),
        F.coalesce("in_l", F.lit(0)).alias("in_l"),
    )
    return u.agg(
        F.sum("in_e").cast("long").alias("n_exact"),
        F.sum("in_l").cast("long").alias("n_lsh"),
        F.sum(F.col("in_e") * F.col("in_l")).cast("long").alias("n_both"),
        F.sum(F.col("in_e") * (1 - F.col("in_l")))
        .cast("long")
        .alias("n_missed_asymmetric"),
        round_half_up(
            F.sum(F.col("in_e") * F.col("in_l")).cast("double")
            / F.sum("in_e"),
            4,
        ).alias("recall"),
        round_half_up(
            F.sum(F.col("in_e") * F.col("in_l")).cast("double")
            / F.sum("in_l"),
            4,
        ).alias("precision"),
    )
