"""Vectorized S2 cell math in pure numpy.

Implements the published S2 cell-ID scheme (cube-face projection +
quadratic ST transform + Hilbert curve position, 64-bit IDs with a
trailing level marker) so that cell IDs are hierarchical: every cell's
descendants occupy a contiguous ID range.  This is the property the
reference's spatial index relies on (reference: b6/search/spatial.go:10-32,
b6/ingest/index.go:47-139) and the property our Spark join builders rely
on (range-overlap joins bucketed at a fixed level).

Everything here is batch-vectorized over numpy arrays -- these kernels are
called from Arrow-batched pandas UDFs, never per-row Python.

Index parameters mirror the reference (b6/search/spatial.go:30-32):
MAX_INDEX_LEVEL = 16, MAX_COVERING_CELLS = 5.
"""

from __future__ import annotations

import numpy as np

MAX_LEVEL = 30
FACE_BITS = 3
POS_BITS = 2 * MAX_LEVEL + 1  # 61

# Index parameters matching the reference (b6/search/spatial.go:30-32).
MAX_INDEX_LEVEL = 16
MAX_COVERING_CELLS = 5
# Fixed bucketing level for co-partitioned spatial joins (ours).  Level-13
# cells are ~2 km across: small enough that a metro-area extent spreads over
# O(100) buckets (parallelism), large enough that typical building/park
# polygons straddle only 1-4 buckets (low replication).  Deployments
# covering the whole globe inherit more buckets automatically because
# bucket count scales with data extent.
BUCKET_LEVEL = 13

EARTH_RADIUS_M = 6371010.0  # reference: b6/units/units.go:7-23

_SWAP = 1
_INVERT = 2

# Hilbert curve orientation tables (published S2 constants).
# _POS_TO_IJ[orientation][position] -> ij (i_bit*2 + j_bit)
_POS_TO_IJ = np.array(
    [
        [0, 1, 3, 2],
        [0, 2, 3, 1],
        [3, 2, 0, 1],
        [3, 1, 0, 2],
    ],
    dtype=np.uint64,
)
# inverse permutations: _IJ_TO_POS[orientation][ij] -> position
_IJ_TO_POS = np.array(
    [
        [0, 1, 3, 2],
        [0, 3, 1, 2],
        [2, 3, 1, 0],
        [2, 1, 3, 0],
    ],
    dtype=np.uint64,
)
_POS_TO_ORIENTATION = np.array([_SWAP, 0, 0, _INVERT | _SWAP], dtype=np.uint64)

_U64 = np.uint64
_ONE = _U64(1)


def latlng_to_xyz(lat_deg, lng_deg):
    """Degrees -> unit-sphere xyz. Returns (x, y, z) float64 arrays."""
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    lng = np.radians(np.asarray(lng_deg, dtype=np.float64))
    clat = np.cos(lat)
    return clat * np.cos(lng), clat * np.sin(lng), np.sin(lat)


def xyz_to_latlng(x, y, z):
    lat = np.degrees(np.arctan2(z, np.hypot(x, y)))
    lng = np.degrees(np.arctan2(y, x))
    return lat, lng


def xyz_to_face_uv(x, y, z):
    """Cube-face projection. Returns (face[int64], u, v)."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    z = np.asarray(z, dtype=np.float64)
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    axis = np.where(ax >= ay, np.where(ax >= az, 0, 2), np.where(ay >= az, 1, 2))
    major = np.choose(axis, [x, y, z])
    face = np.where(major >= 0, axis, axis + 3).astype(np.int64)
    u = np.empty_like(x)
    v = np.empty_like(x)
    for f, (ue, ve) in enumerate(
        [
            (lambda x, y, z: y / x, lambda x, y, z: z / x),  # face 0 (+x)
            (lambda x, y, z: -x / y, lambda x, y, z: z / y),  # face 1 (+y)
            (lambda x, y, z: -x / z, lambda x, y, z: -y / z),  # face 2 (+z)
            (lambda x, y, z: z / x, lambda x, y, z: y / x),  # face 3 (-x)
            (lambda x, y, z: z / y, lambda x, y, z: -x / y),  # face 4 (-y)
            (lambda x, y, z: -y / z, lambda x, y, z: -x / z),  # face 5 (-z)
        ]
    ):
        m = face == f
        if m.any():
            # divide only the rows on this face (not full-array 6x over)
            xm, ym, zm = x[m], y[m], z[m]
            u[m] = ue(xm, ym, zm)
            v[m] = ve(xm, ym, zm)
    return face, u, v


def face_uv_to_xyz(face, u, v):
    face = np.asarray(face)
    u = np.asarray(u, dtype=np.float64)
    v = np.asarray(v, dtype=np.float64)
    one = np.ones_like(u)
    xyz_by_face = [
        (one, u, v),
        (-u, one, v),
        (-u, -v, one),
        (-one, -v, -u),
        (v, -one, -u),
        (v, u, -one),
    ]
    x = np.empty_like(u)
    y = np.empty_like(u)
    z = np.empty_like(u)
    for f, (xe, ye, ze) in enumerate(xyz_by_face):
        m = face == f
        if m.any():
            x[m], y[m], z[m] = xe[m], ye[m], ze[m]
    n = np.sqrt(x * x + y * y + z * z)
    return x / n, y / n, z / n


def uv_to_st(u):
    """Quadratic UV->ST transform (published S2 projection)."""
    u = np.asarray(u, dtype=np.float64)
    with np.errstate(invalid="ignore"):
        return np.where(u >= 0, 0.5 * np.sqrt(np.abs(1 + 3 * u)), 1 - 0.5 * np.sqrt(np.abs(1 - 3 * u)))


def st_to_uv(s):
    s = np.asarray(s, dtype=np.float64)
    return np.where(s >= 0.5, (4 * s * s - 1) / 3.0, (1 - 4 * (1 - s) * (1 - s)) / 3.0)


def st_to_ij(s):
    i = np.floor(np.asarray(s, dtype=np.float64) * (1 << MAX_LEVEL)).astype(np.int64)
    return np.clip(i, 0, (1 << MAX_LEVEL) - 1).astype(np.uint64)


# 4-level Hilbert lookup tables (the published S2 chunked-traversal
# optimization): one fancy-index per 4 levels instead of per level.
# key = (i4 << 6) | (j4 << 2) | orientation  ->  (pos8 << 2) | orientation'
_LOOKUP_BITS = 4


def _build_hilbert_lookup() -> tuple[np.ndarray, np.ndarray]:
    n = 1 << (2 * _LOOKUP_BITS + 2)
    pos_tab = np.zeros(n, dtype=np.uint64)
    ij_tab = np.zeros(n, dtype=np.uint64)
    for i4 in range(1 << _LOOKUP_BITS):
        for j4 in range(1 << _LOOKUP_BITS):
            for orient in range(4):
                o, pos = orient, 0
                for k in range(_LOOKUP_BITS - 1, -1, -1):
                    ij = (((i4 >> k) & 1) << 1) | ((j4 >> k) & 1)
                    pb = int(_IJ_TO_POS[o][ij])
                    pos = (pos << 2) | pb
                    o ^= int(_POS_TO_ORIENTATION[pb])
                pos_tab[(i4 << (_LOOKUP_BITS + 2)) | (j4 << 2) | orient] = (pos << 2) | o
    for pos8 in range(1 << (2 * _LOOKUP_BITS)):
        for orient in range(4):
            o, i4, j4 = orient, 0, 0
            for k in range(_LOOKUP_BITS - 1, -1, -1):
                pb = (pos8 >> (2 * k)) & 3
                ij = int(_POS_TO_IJ[o][pb])
                i4 = (i4 << 1) | (ij >> 1)
                j4 = (j4 << 1) | (ij & 1)
                o ^= int(_POS_TO_ORIENTATION[pb])
            ij_tab[(pos8 << 2) | orient] = (i4 << (_LOOKUP_BITS + 2)) | (j4 << 2) | o
    return pos_tab, ij_tab


_POS_TAB, _IJ_TAB = _build_hilbert_lookup()
_CHUNKS = (MAX_LEVEL + _LOOKUP_BITS - 1) // _LOOKUP_BITS  # 8 (top chunk has 2 levels)
_PAD = _CHUNKS * _LOOKUP_BITS - MAX_LEVEL  # 2 phantom leading levels


def face_ij_to_id(face, i, j):
    """(face, i, j) at leaf resolution -> leaf cell id.

    Chunked Hilbert encode: i/j are padded with 2 phantom leading zero
    levels to a multiple of 4; phantom levels contribute zero position
    bits and the orientation chain starts at the padded root, which maps
    (0,0) prefixes through the same self-similar recursion, so results
    are identical to the per-level form (verified exhaustively in tests).
    """
    face = np.asarray(face).astype(np.uint64)
    i = np.asarray(i).astype(np.uint64)
    j = np.asarray(j).astype(np.uint64)
    pos = np.zeros_like(i)
    bits = face & _ONE
    mask = _U64((1 << _LOOKUP_BITS) - 1)
    for k in range(_CHUNKS - 1, -1, -1):
        sh = _U64(k * _LOOKUP_BITS)
        key = (
            (((i >> sh) & mask) << _U64(_LOOKUP_BITS + 2))
            | (((j >> sh) & mask) << _U64(2))
            | bits
        )
        val = _POS_TAB[key.astype(np.int64)]
        pos = (pos << _U64(2 * _LOOKUP_BITS)) | (val >> _U64(2))
        bits = val & _U64(3)
    # drop the phantom levels' position bits (always the top, zero-valued)
    pos &= _U64((1 << (2 * MAX_LEVEL)) - 1)
    return (face << _U64(POS_BITS)) | (pos << _ONE) | _ONE


def id_to_face_ij(cell_id):
    """Leaf-resolution decode: id -> (face, i, j) of the cell's min corner
    at leaf resolution (use range_min of non-leaf cells)."""
    cid = np.asarray(cell_id).astype(np.uint64)
    leaf = range_min(cid)  # decode the first leaf inside the cell
    face = (leaf >> _U64(POS_BITS)).astype(np.uint64)
    pos = (leaf >> _ONE) & _U64((1 << 60) - 1)
    bits = face & _ONE
    i = np.zeros_like(pos)
    j = np.zeros_like(pos)
    mask = _U64((1 << (2 * _LOOKUP_BITS)) - 1)
    ij_mask = _U64((1 << _LOOKUP_BITS) - 1)
    for k in range(_CHUNKS - 1, -1, -1):
        sh = _U64(2 * k * _LOOKUP_BITS)
        key = (((pos >> sh) & mask) << _U64(2)) | bits
        val = _IJ_TAB[key.astype(np.int64)]
        i = (i << _U64(_LOOKUP_BITS)) | ((val >> _U64(_LOOKUP_BITS + 2)) & ij_mask)
        j = (j << _U64(_LOOKUP_BITS)) | ((val >> _U64(2)) & ij_mask)
        bits = val & _U64(3)
    i &= _U64((1 << MAX_LEVEL) - 1)
    j &= _U64((1 << MAX_LEVEL) - 1)
    return face.astype(np.int64), i, j


def lsb(cell_id):
    cid = np.asarray(cell_id).astype(np.uint64)
    return cid & (~cid + _ONE)


def level(cell_id):
    """Cell level from trailing-bit position (log2 of a power of two is exact)."""
    tz = np.log2(lsb(cell_id).astype(np.float64)).astype(np.int64)
    return MAX_LEVEL - tz // 2


def parent(cell_id, lvl):
    """Ancestor at level lvl (must be <= cell level)."""
    cid = np.asarray(cell_id).astype(np.uint64)
    lvl = np.asarray(lvl)
    new_lsb = _ONE << (_U64(2) * (_U64(MAX_LEVEL) - lvl.astype(np.uint64)))
    return (cid & (~(new_lsb - _ONE))) | new_lsb


def range_min(cell_id):
    cid = np.asarray(cell_id).astype(np.uint64)
    return cid - lsb(cid) + _ONE


def range_max(cell_id):
    cid = np.asarray(cell_id).astype(np.uint64)
    return cid + lsb(cid) - _ONE


def contains(ancestor_id, descendant_id):
    a = np.asarray(ancestor_id).astype(np.uint64)
    d = np.asarray(descendant_id).astype(np.uint64)
    return (range_min(a) <= d) & (d <= range_max(a))


def children(cell_id):
    """4 children of a (non-leaf) cell. Scalar or 1-d input -> (n,4)."""
    cid = np.atleast_1d(np.asarray(cell_id)).astype(np.uint64)
    old_lsb = lsb(cid)
    new_lsb = old_lsb >> _U64(2)
    base = cid - old_lsb + new_lsb
    return np.stack([base + _U64(2 * c) * new_lsb for c in range(4)], axis=1)


def cell_id_from_latlng(lat_deg, lng_deg, lvl=MAX_LEVEL):
    """lat/lng -> cell id at the given level.  Fully vectorized."""
    x, y, z = latlng_to_xyz(lat_deg, lng_deg)
    face, u, v = xyz_to_face_uv(x, y, z)
    i = st_to_ij(uv_to_st(u))
    j = st_to_ij(uv_to_st(v))
    leaf = face_ij_to_id(face, i, j)
    if lvl >= MAX_LEVEL:
        return leaf
    return parent(leaf, np.int64(lvl))


# fractional (di, dj) offsets inside a cell's ij square: its center, then
# its corners 00, 10, 11, 01 (the probe order sql_cellmath replays)
_PROBES = np.array([[0.5, 0.5], [0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0]])


def _cell_probes_xyz(cell_id, probes):
    """Unit xyz of each probe offset of each cell -> (x, y, z), each
    [n_cells, n_probes].  Decodes every cell once."""
    cid = np.atleast_1d(np.asarray(cell_id)).astype(np.uint64)
    face, i, j = id_to_face_ij(cid)
    # decoded leaf is the Hilbert-first leaf, not the ij-min corner: mask to grid
    shift = _U64(MAX_LEVEL) - level(cid).astype(np.uint64)
    size = (_ONE << shift).astype(np.float64)[:, None]
    scale = float(1 << MAX_LEVEL)
    s = (((i >> shift) << shift).astype(np.float64)[:, None] + probes[:, 0] * size) / scale
    t = (((j >> shift) << shift).astype(np.float64)[:, None] + probes[:, 1] * size) / scale
    return face_uv_to_xyz(np.broadcast_to(face[:, None], s.shape), st_to_uv(s), st_to_uv(t))


def cell_center_latlng(cell_id):
    """Center lat/lng of cells (center of the ij bounds at the cell level)."""
    x, y, z = _cell_probes_xyz(cell_id, _PROBES[:1])
    return xyz_to_latlng(x[:, 0], y[:, 0], z[:, 0])


def cell_corners_latlng(cell_id):
    """4 corner lat/lngs per cell -> (lat[n,4], lng[n,4])."""
    return xyz_to_latlng(*_cell_probes_xyz(cell_id, _PROBES[1:]))


def token(cell_id):
    """S2-style hex token (trailing zero nibbles stripped). Vectorized-ish."""
    cid = np.atleast_1d(np.asarray(cell_id)).astype(np.uint64)
    return np.array([format(int(c), "016x").rstrip("0") or "X" for c in cid])


def tokens_for_covering(cell_ids):
    """The search index's token set for a covering (reference
    search/spatial.go:85-113 TokensForCovering + cellIDAncestorTokens):
    `s2:<token>` for each covering cell above level 0, then `a2:<token>`
    for every ancestor, deduplicated per level across the whole covering,
    climbing to level 0 inclusive.  Pinned on the reference's own
    search/spatial_test.go fixture (17 tokens incl. 'a2:484')."""
    cells = np.atleast_1d(np.asarray(cell_ids)).astype(np.uint64)
    lvls = level(cells)
    toks = ["s2:" + t for t in token(cells[lvls > 0])]
    cur = {int(c) for c in cells}
    while cur:
        parents = {
            int(parent(np.uint64(c), int(level(np.uint64(c))) - 1))
            for c in cur
            if int(level(np.uint64(c))) > 0
        }
        toks.extend("a2:" + str(token(np.uint64(p))[0]) for p in sorted(parents))
        cur = parents
    return toks


def token_to_id(tok):
    return np.array([int(t.ljust(16, "0"), 16) for t in np.atleast_1d(tok)], dtype=np.uint64)


def id_to_signed(cell_id):
    """uint64 cell id -> int64 with order preserved (flip the sign bit).

    Spark/Parquet have no unsigned 64-bit type; flipping the top bit keeps
    the total order so BETWEEN range predicates still work.
    """
    cid = np.asarray(cell_id).astype(np.uint64)
    return (cid ^ _U64(1 << 63)).astype(np.int64)


def signed_to_id(signed):
    s = np.asarray(signed).astype(np.int64)
    return (s.astype(np.uint64)) ^ _U64(1 << 63)


# ---------------------------------------------------------------------------
# Coverings (deterministic simplified RegionCoverer; SURVEY.md §7.3.2 —
# internal consistency, not bit-parity with S2's heuristic coverer).
# ---------------------------------------------------------------------------


def _cap_angle_rad(radius_m):
    return float(radius_m) / EARTH_RADIUS_M


def _angle_between(x0, y0, z0, x1, y1, z1):
    dot = np.clip(x0 * x1 + y0 * y1 + z0 * z1, -1.0, 1.0)
    return np.arccos(dot)


def _cap_cell_test(cells, cap_xyz, cap_rad):
    """The covering's one float decision: a cell may intersect the cap
    (center `cap_xyz`, angular radius `cap_rad`) iff angle <= threshold,
    where angle runs from the cap center to the cell center and
    threshold = cap_rad + the cell's circumangle (center to farthest
    corner) + 1e-12.  Conservative: it never drops an intersecting cell.
    Center and corners are built straight in xyz from one decode per
    cell, the same five probes sql_cellmath replays.  Returns
    (angle, threshold) arrays."""
    x, y, z = _cell_probes_xyz(cells, _PROBES)
    angle = _angle_between(*cap_xyz, x[:, 0], y[:, 0], z[:, 0])
    circum = _angle_between(x[:, :1], y[:, :1], z[:, :1], x[:, 1:], y[:, 1:], z[:, 1:])
    return angle, cap_rad + circum.max(axis=1) + 1e-12


# the 6 level-0 cells, where every covering starts
_FACE_CELLS = (np.arange(6, dtype=np.uint64) << _U64(POS_BITS)) | _U64(1 << (POS_BITS - 1))


def covering_cap(
    center_lat,
    center_lng,
    radius_m,
    max_cells=MAX_COVERING_CELLS,
    max_level=MAX_INDEX_LEVEL,
):
    """Deterministic covering of a spherical cap.

    Greedy refinement: start from the 6 face cells, repeatedly split the
    lowest-level (then smallest-id) candidate while the budget allows,
    keeping the children that pass _cap_cell_test, a conservative
    (superset) test.  Returns a sorted uint64 array of cell ids (mixed
    levels).
    """
    cap_xyz = latlng_to_xyz(center_lat, center_lng)
    cap_rad = _cap_angle_rad(radius_m)

    def may_intersect(cells):
        angle, threshold = _cap_cell_test(cells, cap_xyz, cap_rad)
        return angle <= threshold

    cand = _FACE_CELLS[may_intersect(_FACE_CELLS)]
    while True:
        lvls = level(cand)
        splittable = np.where(lvls < max_level)[0]
        if splittable.size == 0:
            break
        # split the lowest-level (largest) cell, tie-break smallest id
        order = np.lexsort((cand[splittable], lvls[splittable]))
        pick = splittable[order[0]]
        kids = children(cand[pick])[0]
        kids = kids[may_intersect(kids)]
        if cand.size - 1 + kids.size > max_cells and cand.size > 1:
            break
        cand = np.sort(np.concatenate([np.delete(cand, pick), kids]))
        if cand.size >= max_cells and (level(cand) >= max_level).all():
            break
    return np.sort(cand)


def covering_ring(xs, ys, max_cells=MAX_COVERING_CELLS, max_level=MAX_INDEX_LEVEL):
    """Covering of a polygon's bounding cap (conservative superset).

    xs=lngs, ys=lats of the outer ring.  The exact refine kernel
    (geom.points_in_polygon) removes false positives after the join, the
    same filter-refine contract as the reference (b6/spatial.go:159-177).
    """
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    # bounding cap: centroid of vertices + max vertex angle
    x, y, z = latlng_to_xyz(ys, xs)
    cxyz = np.array([x.mean(), y.mean(), z.mean()])
    cxyz /= np.linalg.norm(cxyz)
    ang = float(_angle_between(cxyz[0], cxyz[1], cxyz[2], x, y, z).max())
    clat, clng = xyz_to_latlng(cxyz[0], cxyz[1], cxyz[2])
    return covering_cap(float(clat), float(clng), ang * EARTH_RADIUS_M, max_cells, max_level)


def expand_to_bucket_level(cell_ids, bucket_level=BUCKET_LEVEL):
    """Normalize a mixed-level covering to bucket keys at bucket_level.

    Cells at level >= bucket_level map to their ancestor; coarser cells
    explode to all level-bucket_level descendants that exist under them.
    Returns (bucket_ids, orig_index) arrays (orig_index maps each output
    bucket row back to its input cell).
    """
    cells = np.atleast_1d(np.asarray(cell_ids)).astype(np.uint64)
    lvls = level(cells)
    out_buckets = []
    out_idx = []
    fine = lvls >= bucket_level
    if fine.any():
        out_buckets.append(parent(cells[fine], np.int64(bucket_level)))
        out_idx.append(np.where(fine)[0])
    coarse_idx = np.where(~fine)[0]
    for idx in coarse_idx:
        cur = cells[idx : idx + 1]
        while level(cur)[0] < bucket_level:
            cur = children(cur).reshape(-1)
        out_buckets.append(cur)
        out_idx.append(np.full(cur.shape[0], idx))
    if not out_buckets:
        return np.array([], dtype=np.uint64), np.array([], dtype=np.int64)
    return np.concatenate(out_buckets), np.concatenate(out_idx).astype(np.int64)
