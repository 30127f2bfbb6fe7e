"""Expression-plan references for the similarity kernels.

Every similarity operator in the package has one implementation: an
Arrow/NumPy kernel (``mapInArrow`` / ``applyInPandas``, exactness
contract in functions/argmin_kernel.py). A kernel is admissible only
because it reproduces, bit for bit, the Catalyst expression plan the
DuckDB oracles unroll. This module keeps those expression plans on the
test side as the equality reference.

Each function has the signature and output contract of one package
seam; ``use_references`` swaps the seams in
``operators/similarity.py``, so an operator called under it runs end to
end on expression plans. ``mutual_knn_ivf`` fuses its training and
probe kernels, so its reference is a whole operator instead.

Nothing under the package imports this module.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

import etl_pipeline_challenge_aladia_spark.operators.similarity as sim
from etl_pipeline_challenge_aladia_spark.functions.rounding import (
    avg_fixed_point,
    round_half_up,
)
from etl_pipeline_challenge_aladia_spark.functions.vectors import (
    cosine_similarity_col,
    dot_col,
    l2_normalize_col,
    to_double_array,
)
from etl_pipeline_challenge_aladia_spark.operators.text import shingles_col, tokens_col


# --------------------------------------------------------------------------
# MinHash: signature aggregate and pair verify
# --------------------------------------------------------------------------


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Shingle explode + one ``min((h*a+b) % p)`` column per permutation."""
    params = sim._perm_params(num_perm, seed)
    exploded = docs.select(
        F.col(id_col).alias("id"),
        F.explode(shingles_col(tokens_col(text_col), n)).alias("sh"),
    ).withColumn("h", sim.shingle_hash_col(F.col("sh")))
    mins = exploded.groupBy("id").agg(
        *[
            F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(sim._MERSENNE))
            .alias(f"m{j}")
            for j, (a, b) in enumerate(params)
        ]
    )
    return mins.select(
        "id", F.array(*[F.col(f"m{j}") for j in range(num_perm)]).alias("signature")
    )


def jaccard_verify(
    pairs: DataFrame,
    n: int,
    a_col: str,
    b_col: str,
    a_kind: str = "text",
    b_kind: str = "text",
) -> DataFrame:
    """``round_half_up(|A ∩ B| / |A ∪ B|, 4)`` over distinct shingle sets
    of (id_a, id_b, payload_a, payload_b) candidate rows; a 'text'
    payload is shingled here, a 'set' payload is a stored shingle array."""
    ida, idb, pa, pb = pairs.columns

    def shingles(col: str, kind: str):
        return shingles_col(tokens_col(col), n) if kind == "text" else F.col(col)

    sa, sb = shingles(pa, a_kind), shingles(pb, b_kind)
    inter = F.size(F.array_intersect(sa, sb)).cast("double")
    union = F.size(F.array_union(sa, sb)).cast("double")
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return pairs.select(
        F.col(ida).alias(a_col),
        F.col(idb).alias(b_col),
        round_half_up(jac, 4).alias("jaccard"),
    )


# --------------------------------------------------------------------------
# Fixed-point Lloyd chain: flat, two-level (hier) and grouped (PQ)
# --------------------------------------------------------------------------


def _nearest(candidates: DataFrame) -> DataFrame:
    """Hash-aggregate argmin over (grp, id, v, cluster, c) candidate rows:
    ``min(struct(dist_fx, cluster))`` — minimum exact fixed-point
    distance, ties to the lower cluster. ``any_value(v)`` is exact: every
    candidate row of an id carries the same vector."""
    return (
        candidates.select(
            "grp",
            "id",
            "v",
            "cluster",
            sim._fx_sq_dist(F.col("v"), F.col("c")).alias("dist_fx"),
        )
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


def _argmin(vecs: DataFrame, centroids: DataFrame) -> DataFrame:
    """Flat argmin of (grp, id, v) over a broadcast (grp, cluster, c)."""
    return _nearest(vecs.join(F.broadcast(centroids), "grp"))


def _argmin_hier(
    vecs: DataFrame, centroids: DataFrame, k2: int, scale: int
) -> DataFrame:
    """Two-level routed argmin: an inner 2-round k-means clusters the
    centroid table into ``k2`` super-cells, each vector routes to its
    nearest NON-EMPTY super-cell, and the exact argmin runs only against
    that super-cell's member centroids."""
    cvecs = centroids.select(
        "grp", F.col("cluster").alias("id"), F.col("c").alias("v")
    )
    member, supercents = kmeans_rounds(cvecs, k2, 2, scale, single_group=True)
    member_map = member.select(
        F.col("id").alias("cluster"), F.col("cluster").alias("supercell")
    ).localCheckpoint(eager=True)
    nonempty = supercents.join(
        member_map.select(F.col("supercell").alias("cluster")).distinct(),
        "cluster",
    )
    routed = _argmin(vecs, nonempty).select(
        "grp", "id", "v", F.col("cluster").alias("supercell")
    )
    cmem = centroids.join(member_map, "cluster")
    return _nearest(routed.join(F.broadcast(cmem), ["grp", "supercell"]))


def kmeans_rounds(
    vecs: DataFrame,
    k: int,
    iters: int,
    scale: int,
    single_group: bool = False,
    route: str = "flat",
) -> tuple[DataFrame, DataFrame]:
    """``sim._kmeans_rounds`` as expression plans: init = the k lowest-id
    vectors per group (cluster = 1-based rank), ``iters`` assignment
    rounds, a half-up fixed-point mean recompute between rounds (empty
    clusters drop). Returns (assigned (grp, id, v, cluster, dist_fx),
    the centroids (grp, cluster, c) the final round assigned against)."""
    if route == "hier" and not single_group:
        raise ValueError("hier routing is single-group only")
    centroids = (
        vecs.withColumn(
            "_rn", F.row_number().over(Window.partitionBy("grp").orderBy("id"))
        )
        .filter(F.col("_rn") <= k)
        .select("grp", F.col("_rn").alias("cluster"), F.col("v").alias("c"))
        .localCheckpoint(eager=True)
    )
    k2 = int(math.ceil(math.sqrt(k)))
    assigned = None
    for r in range(iters):
        if route == "hier":
            assigned = _argmin_hier(vecs, centroids, k2, scale)
        else:
            assigned = _argmin(vecs, centroids)
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


def train_assign(
    embeddings: DataFrame,
    k: int,
    iters: int,
    id_col: str,
    vec_col: str,
    route: str,
) -> tuple[DataFrame, DataFrame]:
    """``sim._train_assign``: (cells (id, cluster, v), centroids (cluster, c))."""
    vecs = embeddings.select(
        F.lit(0).alias("grp"),
        F.col(id_col).alias("id"),
        to_double_array(vec_col).alias("v"),
    )
    assigned, centroids = kmeans_rounds(
        vecs, k, iters, 6, single_group=True, route=route
    )
    return (
        assigned.select("id", "cluster", "v"),
        centroids.select("cluster", "c"),
    )


def route_frozen(
    vecs: DataFrame, centroids: DataFrame, echo_v: bool = False
) -> DataFrame:
    """``sim._route_frozen``: one argmin onto a frozen (cluster, c) table."""
    assigned = _argmin(vecs, centroids.select(F.lit(0).alias("grp"), "cluster", "c"))
    if echo_v:
        return assigned.select("id", "cluster", "v")
    return assigned.select("grp", "id", "cluster", "dist_fx")


# --------------------------------------------------------------------------
# In-cell cosine sweeps
# --------------------------------------------------------------------------


def _min_canon_max_cos(pairs: DataFrame, out_id: str) -> DataFrame:
    return pairs.groupBy(F.col("dup_id").alias(out_id)).agg(
        F.min("keep_id").alias("canonical_id"),
        F.max("cos_sim").alias("max_cos"),
    )


def cell_pair_dedup(
    m: DataFrame, threshold: float, out_id: str = "vec_id",
    n_hint: int | None = None,
) -> DataFrame:
    """``sim._cell_pair_dedup``: in-cell self-join of (id, cluster, v) on
    lower id, a normalized-dot prefilter 0.01 below the threshold, then
    the exact half-up cosine and the (min canon, max cos) rollup."""
    x = m.select("id", "cluster", "v", l2_normalize_col(F.col("v")).alias("nv"))
    a, b = x.alias("a"), x.alias("b")
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
    return _min_canon_max_cos(pairs, out_id)


def cell_screen_pairs(
    d: DataFrame, c: DataFrame, threshold: float, out_id: str
) -> DataFrame:
    """``sim._cell_screen_pairs``: (cell, id, v) delta rows joined to
    (cell, cid, cv) corpus members on the cell, same prefilter and
    rollup as ``cell_pair_dedup``."""
    dd = d.withColumn("nv", l2_normalize_col(F.col("v")))
    cc = c.withColumn("cnv", l2_normalize_col(F.col("cv")))
    prefilter = dot_col(F.col("nv"), F.col("cnv")) >= F.lit(threshold - 0.01)
    pairs = (
        dd.join(cc, "cell")
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
    return _min_canon_max_cos(pairs, out_id)


# --------------------------------------------------------------------------
# Mutual kNN on auto-k IVF cells
# --------------------------------------------------------------------------


def mutual_knn_ivf(
    embeddings: DataFrame,
    k: int,
    nprobe: int,
    threshold: float,
    route: str = "auto",
    iters: int = 3,
    block_cap: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``sim.mutual_knn_ivf(cell_col=None)`` with the tagged frame built
    by expression plans: members carry their k-means cell, probers are
    the ``row_number() over (order by fx, cell) <= nprobe`` nearest cells
    of a broadcast cross with the full centroid table (flat ranking even
    under hier assignment). Scoring is the package's shared tail."""
    n = embeddings.count()
    kq = max(32, min(max(n, 1), sim.auto_semantic_k(n, iters)))
    route = sim.resolve_semantic_route(route, n, spark=embeddings.sparkSession)
    raw = embeddings.select(
        F.col(id_col).alias("id"), to_double_array(vec_col).alias("v")
    )
    assigned, cents = kmeans_rounds(
        raw.select(F.lit(0).alias("grp"), "id", "v"), kq, iters, 6,
        single_group=True, route=route,
    )
    members = raw.join(
        assigned.select("id", F.col("cluster").alias("cell")), "id"
    )
    probe_w = Window.partitionBy("id").orderBy("fx", F.col("cell"))
    probers = (
        raw.crossJoin(
            F.broadcast(cents.select(F.col("cluster").alias("cell"), "c"))
        )
        .select(
            "id",
            "v",
            "cell",
            sim._fx_sq_dist(F.col("v"), F.col("c")).alias("fx"),
        )
        .withColumn("pr", F.row_number().over(probe_w))
        .filter(F.col("pr") <= nprobe)
    )
    tagged = (
        probers.select("id", "v", "cell", F.lit(0).alias("role"))
        .unionByName(members.select("id", "v", "cell", F.lit(1).alias("role")))
        .localCheckpoint(eager=False)
    )
    return sim._mutual_from_tagged(tagged, k, threshold, block_cap)


#: package seam -> its expression-plan reference
SEAMS = {
    "minhash_signatures": minhash_signatures,
    "_pair_jaccard_verify": jaccard_verify,
    "_kmeans_rounds": kmeans_rounds,
    "_train_assign": train_assign,
    "_route_frozen": route_frozen,
    "_cell_pair_dedup": cell_pair_dedup,
    "_cell_screen_pairs": cell_screen_pairs,
}


def use_references(monkeypatch) -> None:
    """Swap every kernel seam of ``operators/similarity.py`` for its
    reference (undone with the ``monkeypatch`` context)."""
    for name, fn in SEAMS.items():
        monkeypatch.setattr(sim, name, fn)
