"""NumPy twins of the fixed-point k-means primitives (argmin assignment,
Lloyd centroid recompute, the tiny inner quantizer of the two-level
router) for the Arrow-batched assignment kernel.

Why this exists (guide §4.2): the assignment step of every semantic-dedup
/ IVF / PQ operator evaluates n x k exact fixed-point distances. As a
Catalyst expression tree (broadcast join + per-candidate-row projection)
that work runs at JVM-expression speed — measured ~150 ns per
fixed-point term at dim=64 (the unrolled chain splits into many codegen
methods, each reloading the array columns) — and materializes an n x k
candidate-row stream through a SortAggregate (min over a struct is not
hash-aggregable). Handing whole Arrow batches to NumPy does the same
arithmetic vectorized (~1-2 ns/term), needs no candidate rows, no sort
and no exchange: assignment becomes a map-only stage.

EXACTNESS CONTRACT — every helper reproduces the JVM expression
bit-for-bit, which is what keeps the SQL oracles hash-exact:

- all elementwise ops (sub, mul, add, floor, div, sqrt) are IEEE-754
  round-to-nearest in both engines; NumPy does not fuse (no FMA), and
  the helpers sequence operations exactly as the Catalyst expressions do;
- double -> long narrowing follows JLS 5.1.3 (NaN -> 0, saturate at
  Long.MIN/MAX, truncate toward zero) via ``java_long`` — NumPy's bare
  ``astype`` wraps instead;
- int64 sums are exact integers, so any summation order matches the
  engine's fold;
- argmin ties break to the LOWEST cluster id by keeping centroid rows
  sorted ascending and using first-occurrence ``np.argmin`` — the
  ``min(struct(dist_fx, cluster))`` contract.

``tests/test_assign_kernel_parity.py`` pins each kernel against its
expression-plan reference (``tests/reference_ops.py``) on real fixture
data and adversarial ties.
"""

from __future__ import annotations

import math

import numpy as np

#: rows-x-candidates tile cap for the distance matrix (int64 cells).
#: 1<<22 cells = 32 MB per tile — bounds worker memory at any k.
TILE_CELLS = 1 << 22

_LONG_MAX = np.iinfo(np.int64).max
_LONG_MIN = np.iinfo(np.int64).min
_TWO63 = 9.223372036854775808e18  # 2^63 as a double


def java_long(x: np.ndarray) -> np.ndarray:
    """double -> long with JLS 5.1.3 semantics (NaN -> 0, saturation).

    Inputs here are always ``np.floor`` outputs (integral doubles), so
    in-range truncation is the identity."""
    hi = x >= _TWO63
    lo = x <= -_TWO63
    nan = np.isnan(x)
    out = np.where(hi | lo | nan, 0.0, x).astype(np.int64)
    if hi.any():
        out[hi] = _LONG_MAX
    if lo.any():
        out[lo] = _LONG_MIN
    return out


def fx_sq_dists(V: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n, k) exact int64 fixed-point squared distances:
    sum_d java_long(floor((v_d - c_d) * (v_d - c_d) * 1e8 + 0.5)) —
    the `_fx_sq_dist` expression, op for op."""
    n, d = V.shape
    k = C.shape[0]
    acc = np.zeros((n, k), dtype=np.int64)
    for j in range(d):
        diff = V[:, j, None] - C[None, :, j]
        t = diff * diff
        t = t * 1.0e8
        t = t + 0.5
        acc += java_long(np.floor(t))
    return acc


def argmin_cells(
    V: np.ndarray, cent_ids: np.ndarray, C: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Exact argmin over centroid rows (MUST be sorted ascending by id):
    returns (cluster id, dist_fx) per row of V, ties to the lowest id.
    Tiles the distance matrix so no intermediate exceeds TILE_CELLS."""
    n = V.shape[0]
    k = max(1, C.shape[0])
    step = max(1, TILE_CELLS // k)
    labels = np.empty(n, dtype=np.int64)
    dists = np.empty(n, dtype=np.int64)
    for s in range(0, n, step):
        e = min(n, s + step)
        D = fx_sq_dists(V[s:e], C)
        j = np.argmin(D, axis=1)
        labels[s:e] = cent_ids[j]
        dists[s:e] = D[np.arange(e - s), j]
    return labels, dists


def quant_sums(
    V: np.ndarray, labels: np.ndarray, quant_scale: int = 6
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-label exact partial sums for the order-independent fixed-point
    mean (``avg_fixed_point``): returns (present labels asc,
    sum of java_long(floor(v * 10^q + 0.5)) per (label, dim) as int64,
    member counts). Partials from different batches add exactly."""
    q = float(10**quant_scale)
    t = V * q
    t = t + 0.5
    fx = java_long(np.floor(t))
    present, inv = np.unique(labels, return_inverse=True)
    sums = np.zeros((present.shape[0], V.shape[1]), dtype=np.int64)
    np.add.at(sums, inv, fx)
    counts = np.bincount(inv, minlength=present.shape[0]).astype(np.int64)
    return present, sums, counts


def centroid_component(sfx: int, cnt: int, quant_scale: int, scale: int) -> float:
    """One centroid component from exact partial sums — the
    ``round_half_up(avg_fixed_point(val), scale)`` expression:
    floor((double(sum)/10^q/count) * 10^s + 0.5) / 10^s."""
    q = float(10**quant_scale)
    f = float(10**scale)
    mean = float(sfx) / q / float(cnt)
    return float(math.floor(mean * f + 0.5)) / f


def local_kmeans(
    ids: np.ndarray, V: np.ndarray, k: int, iters: int, scale: int = 6
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Exact in-memory replica of the fixed-point Lloyd loop (single group) for a
    LOCAL matrix — the inner quantizer of the two-level router runs on
    the k-row centroid table, metadata-sized at any corpus scale.

    init = the k lowest-``ids`` rows, cluster = 1-based rank; per round:
    exact argmin (ties to lower cluster), then the fixed-point mean
    recompute over PRESENT clusters only (empty clusters drop, exactly
    like the groupBy). Returns (labels aligned to input rows, the
    centroid ids and matrix the FINAL assignment used)."""
    order = np.argsort(ids, kind="stable")
    kk = min(k, V.shape[0])
    C = V[order[:kk]].astype(np.float64, copy=True)
    cent_ids = np.arange(1, kk + 1, dtype=np.int64)
    labels = np.empty(V.shape[0], dtype=np.int64)
    for r in range(iters):
        labels, _ = argmin_cells(V, cent_ids, C)
        if r < iters - 1:
            present, sums, counts = quant_sums(V, labels, quant_scale=6)
            newC = np.empty((present.shape[0], V.shape[1]), dtype=np.float64)
            for i in range(present.shape[0]):
                for j in range(V.shape[1]):
                    newC[i, j] = centroid_component(
                        int(sums[i, j]), int(counts[i]), 6, scale
                    )
            cent_ids, C = present, newC
    return labels, cent_ids, C


def build_hier_plan(
    cent_ids: np.ndarray, C: np.ndarray, k2: int, scale: int = 6
) -> dict:
    """Precompute the two-level routing tables of ``hier_argmin`` from a
    collected centroid table: inner k-means (k2 super-cells,
    inner_iters=2) over the centroids, keep only NON-EMPTY super-cells
    (those the final member assignment used), and group member centroids
    per super-cell sorted by cluster id (the tie-break order)."""
    member_lab, sc_ids, SC = local_kmeans(cent_ids, C, k2, iters=2, scale=scale)
    nonempty = np.unique(member_lab)
    keep = np.isin(sc_ids, nonempty)
    sc_ids, SC = sc_ids[keep], SC[keep]
    members = {}
    for s in nonempty:
        m = member_lab == s
        mid = cent_ids[m]
        o = np.argsort(mid, kind="stable")
        members[int(s)] = (mid[o], C[m][o])
    return {"sc_ids": sc_ids, "SC": SC, "members": members}


def hier_argmin(V: np.ndarray, plan: dict) -> tuple[np.ndarray, np.ndarray]:
    """Two-level routed exact argmin: route each row to its nearest
    non-empty super-cell (ties to the lower super-cell id), then exact
    argmin against that super-cell's member centroids (ties to the lower
    cluster id) — the oracles' two-level unroll, op for op."""
    routed, _ = argmin_cells(V, plan["sc_ids"], plan["SC"])
    n = V.shape[0]
    labels = np.empty(n, dtype=np.int64)
    dists = np.empty(n, dtype=np.int64)
    for s in np.unique(routed):
        rows = np.where(routed == s)[0]
        mid, MC = plan["members"][int(s)]
        lab, dd = argmin_cells(V[rows], mid, MC)
        labels[rows] = lab
        dists[rows] = dd
    return labels, dists


def fold_norms(V: np.ndarray) -> np.ndarray:
    """Per-row L2 norm with the engine's exact fold order:
    sqrt(0.0 + x0*x0 + x1*x1 + ...) — ``norm_col``, op for op (sqrt is
    IEEE correctly rounded in both engines)."""
    acc = np.zeros(V.shape[0], dtype=np.float64)
    for j in range(V.shape[1]):
        x = V[:, j]
        acc = acc + x * x
    return np.sqrt(acc)


def cosine_matrix(VA: np.ndarray, VB: np.ndarray) -> np.ndarray:
    """(|A|, |B|) exact cosine similarities — ``cosine_similarity_col``
    op for op: dot = the sequential fold 0.0 + a0*b0 + a1*b1 + ...
    (accumulated per dimension, vectorized across pairs — the SAME
    left-fold order), denom = norm(a) * norm(b) as one multiply, 0.0
    when denom is not > 0."""
    D = np.zeros((VA.shape[0], VB.shape[0]), dtype=np.float64)
    for j in range(VA.shape[1]):
        D = D + np.outer(VA[:, j], VB[:, j])
    denom = np.outer(fold_norms(VA), fold_norms(VB))
    ok = denom > 0
    return np.where(ok, D / np.where(ok, denom, 1.0), 0.0)


def round_half_up4(x: np.ndarray) -> np.ndarray:
    """``round_half_up(col, 4)`` — floor(x * 1e4 + 0.5) / 1e4; the long
    round-trip is exact (|cos| * 1e4 is far inside 2^53)."""
    return np.floor(x * 1.0e4 + 0.5) / 1.0e4


#: i-block height for the pairwise cosine sweeps: bounds the (block, m)
#: cosine matrix a tile materializes regardless of cell size.
PAIR_TILE_ROWS = 4096

#: rows-per-pandas-group cap for the in-cell sweeps: PAIR_TILE_ROWS only
#: bounds the cosine-matrix INTERMEDIATE — applyInPandas still
#: materializes the whole group's (rows x dim) input per task, so a
#: skewed giant cell (mass-duplicated embeddings all landing in one
#: k-means cell) would OOM a worker regardless of k. Cells above this
#: cap are split into id-rank blocks and swept tile-by-tile (min-canon /
#: max-cos partials compose exactly); 64k rows x 64 dims x 8 B = 32 MB
#: per group-side, comfortably inside a task.
PAIR_GROUP_ROWS = 1 << 16


def cell_dup_sweep(
    ids: np.ndarray, V: np.ndarray, threshold: float
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One cell's duplicate sweep — the exact in-cell pair semantics of
    ``semantic_dedup`` collapsed into a kernel: for every member j with
    some lower-id cell-mate i at round4(cosine) >= threshold, emit
    (ids[j], min such ids[i], max such cosine). ``ids`` MUST be sorted
    ascending (the min-id tie-break); tiles i-blocks so memory stays
    bounded for giant cells. Sweeping exact cosines is what the oracle
    computes; a dot-product prefilter with a safety margin below the
    threshold (the expression-plan reference) yields the same row set."""
    m = ids.shape[0]
    if m < 2:
        e = np.empty(0, dtype=np.int64)
        return ids[:0], ids[:0], e.astype(np.float64)
    canon_idx = np.full(m, -1, dtype=np.int64)
    maxc = np.full(m, -np.inf, dtype=np.float64)
    # tile BOTH axes: no intermediate exceeds PAIR_TILE_ROWS^2 cells no
    # matter how large the cell — the giant-cell worker-memory guard
    for cs in range(0, m, PAIR_TILE_ROWS):
        ce = min(m, cs + PAIR_TILE_ROWS)
        for s in range(0, ce, PAIR_TILE_ROWS):  # rows i < ce suffice (i < j)
            e = min(ce, s + PAIR_TILE_ROWS)
            cos4 = round_half_up4(cosine_matrix(V[s:e], V[cs:ce]))
            mask = (cos4 >= threshold) & (
                np.arange(s, e)[:, None] < np.arange(cs, ce)[None, :]
            )
            hit = mask.any(axis=0)
            first = np.argmax(mask, axis=0) + s
            unset = hit & (canon_idx[cs:ce] < 0)
            sl = canon_idx[cs:ce]
            sl[unset] = first[unset]  # i-blocks ascend, so first = min id
            colmax = np.where(mask, cos4, -np.inf).max(axis=0)
            np.maximum(maxc[cs:ce], colmax, out=maxc[cs:ce])
    js = np.where(canon_idx >= 0)[0]
    return ids[js], ids[canon_idx[js]], maxc[js]


def cell_screen_sweep(
    dids: np.ndarray,
    VD: np.ndarray,
    cids: np.ndarray,
    VC: np.ndarray,
    threshold: float,
    require_lower: bool = False,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One cell's delta-vs-corpus screen — the exact pair semantics of
    ``semantic_dedup_screen``: for every delta row with some corpus
    member at round4(cosine(delta, corpus)) >= threshold, emit
    (delta id, min such corpus id, max such cosine). ``cids`` MUST be
    sorted ascending; tiles delta rows like ``cell_dup_sweep``.

    ``require_lower=True`` additionally demands cid < did per pair — the
    in-cell DUP-SWEEP semantics evaluated on a (canonical-side,
    dup-side) tile, which is how the giant-cell tiled route evaluates
    ``cell_dup_sweep`` blockwise: min/max over qualifying partners
    decompose across tiles, so a dup-grain (min canon, max cos) rollup
    over the per-tile partials reproduces the one-group sweep exactly."""
    n, k = dids.shape[0], cids.shape[0]
    if n == 0 or k == 0:
        return dids[:0], cids[:0], np.empty(0, dtype=np.float64)
    canon_col = np.full(n, -1, dtype=np.int64)
    maxc = np.full(n, -np.inf, dtype=np.float64)
    # tile BOTH axes (see cell_dup_sweep): corpus blocks ascend by cid,
    # so the first qualifying block's argmax is the min matching cid
    for s in range(0, n, PAIR_TILE_ROWS):
        e = min(n, s + PAIR_TILE_ROWS)
        for cs in range(0, k, PAIR_TILE_ROWS):
            ce = min(k, cs + PAIR_TILE_ROWS)
            cos4 = round_half_up4(cosine_matrix(VD[s:e], VC[cs:ce]))
            mask = cos4 >= threshold
            if require_lower:
                mask &= cids[cs:ce][None, :] < dids[s:e][:, None]
            hit = mask.any(axis=1)
            first = np.argmax(mask, axis=1) + cs
            unset = hit & (canon_col[s:e] < 0)
            sl = canon_col[s:e]
            sl[unset] = first[unset]
            rowmax = np.where(mask, cos4, -np.inf).max(axis=1)
            np.maximum(maxc[s:e], rowmax, out=maxc[s:e])
    rows = np.where(canon_col >= 0)[0]
    return dids[rows], cids[canon_col[rows]], maxc[rows]


def list_matrix(col, rows: np.ndarray | None = None) -> np.ndarray:
    """Extract a (rows, dim) float64 matrix from an Arrow list column
    (list<double> or list<float>; the cast to float64 is exact). ``rows``
    selects a subset of row indices; dim must be uniform over the
    selected rows (the engine's fixed-dim embedding contract)."""
    off = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    vals = col.values.to_numpy(zero_copy_only=False).astype(np.float64)
    starts = off[:-1]
    lens = off[1:] - off[:-1]
    if rows is not None:
        starts, lens = starts[rows], lens[rows]
    if starts.shape[0] == 0:
        return np.empty((0, 0), dtype=np.float64)
    d = int(lens[0])
    if not (lens == d).all():
        raise ValueError("ragged vector column — fixed-dim contract broken")
    return vals[starts[:, None] + np.arange(d)[None, :]]
