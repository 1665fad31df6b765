"""Polygon boolean operations (intersection / difference / union) on
lat/lng rings.

Reference surface: b6's Foster et al. clipper (b6/geometry/foster.go:
21-600) provides polygon booleans for clip-to-boundary workflows,
collect-areas union semantics, and sightline v2 occlusion shapes.  This
is an independent implementation of the same published algorithm family
(Greiner-Hormann traversal with entry/exit classification, plus the
standard degeneracy treatment by micro-perturbation that Foster et al.
formalize) -- no reference code consulted, algorithm from the public
papers:

  Greiner & Hormann, "Efficient clipping of arbitrary polygons",
  ACM TOG 17(2), 1998; Foster, Hormann, Popa, "Clipping simple polygons
  with degenerate intersections", Computers & Graphics: X 2, 2019.

Rings are numpy (n,) x/y arrays, implicitly closed, any orientation,
possibly concave.  Results are lists of rings.  Degenerate contact
(vertex-on-edge, collinear overlap) is resolved by perturbing the
subject by ~1e-9 deg (~0.1 mm) and re-running -- the Foster paper's
exact rules collapse to this at our coordinate noise floor.
"""

from __future__ import annotations

import numpy as np

_EPS = 1e-12  # parametric tolerance for "degenerate" intersections
_PERTURB = 1e-9  # degrees (~0.1 mm): subject nudge on degeneracy


class _V:
    __slots__ = ("x", "y", "nxt", "prv", "neighbour", "entry", "intersect", "alpha", "visited")

    def __init__(self, x: float, y: float, intersect: bool = False, alpha: float = 0.0):
        self.x = float(x)
        self.y = float(y)
        self.nxt = None
        self.prv = None
        self.neighbour = None
        self.entry = True
        self.intersect = intersect
        self.alpha = alpha
        self.visited = False


def _build(ring_x, ring_y):
    verts = [_V(x, y) for x, y in zip(ring_x, ring_y)]
    n = len(verts)
    for i, v in enumerate(verts):
        v.nxt = verts[(i + 1) % n]
        v.prv = verts[(i - 1) % n]
    return verts[0]


def _iter_ring(head):
    v = head
    while True:
        yield v
        v = v.nxt
        if v is head:
            break


def point_in_ring(px: float, py: float, xs: np.ndarray, ys: np.ndarray) -> bool:
    """Even-odd PIP, half-open edge rule (same as kernels/geom)."""
    inside = False
    n = len(xs)
    for i in range(n):
        x1, y1 = xs[i], ys[i]
        x2, y2 = xs[(i + 1) % n], ys[(i + 1) % n]
        if (y1 > py) != (y2 > py):
            if px < x1 + (py - y1) * (x2 - x1) / (y2 - y1):
                inside = not inside
    return inside


def _seg_intersect(p1, p2, q1, q2):
    """Parametric intersection of segments p1p2 and q1q2.
    Returns (t, u) in (0,1)x(0,1) or None; flags degeneracy via ValueError."""
    rx, ry = p2[0] - p1[0], p2[1] - p1[1]
    sx, sy = q2[0] - q1[0], q2[1] - q1[1]
    if rx * rx + ry * ry < 1e-24 or sx * sx + sy * sy < 1e-24:
        return None  # zero-length edge intersects nothing
    denom = rx * sy - ry * sx
    qpx, qpy = q1[0] - p1[0], q1[1] - p1[1]
    if abs(denom) < 1e-18:
        cross = qpx * ry - qpy * rx
        if abs(cross) < 1e-18:
            # collinear: overlap is degenerate for the traversal
            t0 = (qpx * rx + qpy * ry) / max(rx * rx + ry * ry, 1e-30)
            t1 = t0 + (sx * rx + sy * ry) / max(rx * rx + ry * ry, 1e-30)
            if max(min(t0, t1), 0.0) <= min(max(t0, t1), 1.0):
                raise ValueError("collinear overlap")
        return None
    t = (qpx * sy - qpy * sx) / denom
    u = (qpx * ry - qpy * rx) / denom
    if -_EPS < t < _EPS or 1 - _EPS < t < 1 + _EPS or -_EPS < u < _EPS or 1 - _EPS < u < 1 + _EPS:
        if -_EPS < t < 1 + _EPS and -_EPS < u < 1 + _EPS:
            raise ValueError("endpoint contact")
        return None
    if 0 < t < 1 and 0 < u < 1:
        return t, u
    return None


def _insert_sorted(seg_start, vertex):
    """Insert an intersection vertex after seg_start, alpha-ordered."""
    pos = seg_start
    while pos.nxt.intersect and pos.nxt.alpha < vertex.alpha:
        pos = pos.nxt
    vertex.nxt = pos.nxt
    vertex.prv = pos
    pos.nxt.prv = vertex
    pos.nxt = vertex


def _clip_once(sx, sy, cx, cy, op: str):
    subj = _build(sx, sy)
    clip = _build(cx, cy)

    # phase 1: find & insert intersections
    found = 0
    s_edges = [(v, v.nxt) for v in _iter_ring(subj) if not v.intersect]
    c_edges = [(v, v.nxt) for v in _iter_ring(clip) if not v.intersect]
    for sv, sv2 in s_edges:
        # walk to true edge end (skip already-inserted intersections)
        for cv, cv2 in c_edges:
            hit = _seg_intersect((sv.x, sv.y), (sv2.x, sv2.y), (cv.x, cv.y), (cv2.x, cv2.y))
            if hit is None:
                continue
            t, u = hit
            ix = sv.x + t * (sv2.x - sv.x)
            iy = sv.y + t * (sv2.y - sv.y)
            a = _V(ix, iy, True, t)
            b = _V(ix, iy, True, u)
            a.neighbour = b
            b.neighbour = a
            _insert_sorted(sv, a)
            _insert_sorted(cv, b)
            found += 1

    if found == 0:
        # containment / disjoint cases
        s_in_c = point_in_ring(sx[0], sy[0], cx, cy)
        c_in_s = point_in_ring(cx[0], cy[0], sx, sy)
        if op == "intersection":
            if s_in_c:
                return [(sx, sy)]
            if c_in_s:
                return [(cx, cy)]
            return []
        if op == "difference":  # subject minus clip
            if s_in_c:
                return []
            if c_in_s:
                # subject with a hole: outer ring CCW, hole ring CW --
                # signed areas then sum to the true region area and
                # consumers classify holes by orientation
                return [(sx, sy), (cx[::-1], cy[::-1])]
            return [(sx, sy)]
        if op == "union":
            if s_in_c:
                return [(cx, cy)]
            if c_in_s:
                return [(sx, sy)]
            return [(sx, sy), (cx, cy)]

    # phase 2: entry/exit classification
    inside = point_in_ring(subj.x, subj.y, cx, cy)
    status = not inside
    for v in _iter_ring(subj):
        if v.intersect:
            v.entry = status
            status = not status
    inside = point_in_ring(clip.x, clip.y, sx, sy)
    status = not inside
    if op == "union":
        status = inside
    for v in _iter_ring(clip):
        if v.intersect:
            v.entry = status
            status = not status
    if op in ("difference", "union"):
        # difference/union flip the subject's entry flags
        for v in _iter_ring(subj):
            if v.intersect:
                v.entry = not v.entry

    # phase 3: traversal
    out = []
    for start in _iter_ring(subj):
        if not start.intersect or start.visited:
            continue
        ring = []
        cur = start
        while not cur.visited:
            cur.visited = True
            cur.neighbour.visited = True
            ring.append((cur.x, cur.y))
            forward = cur.entry
            probe = cur
            while True:
                probe = probe.nxt if forward else probe.prv
                ring.append((probe.x, probe.y))
                if probe.intersect:
                    break
            cur = probe.neighbour
            if cur is start or cur.neighbour is start:
                break
        ring = ring[:-1] if len(ring) > 1 and ring[0] == ring[-1] else ring
        if len(ring) >= 3:
            # an intersection point enters the ring twice (its subject-
            # list and clip-list copies share coordinates) whenever the
            # traversal passes through rather than terminates on it --
            # collapse exact consecutive/wraparound duplicates
            xs, ys = _dedupe_ring(
                np.array([p[0] for p in ring]), np.array([p[1] for p in ring])
            )
            if len(xs) < 3:
                continue
            # traversal pieces are outer boundaries (holes only arise in
            # the no-intersection containment branch); normalize to CCW
            # so signed-area summation over a result list is meaningful
            if ring_area(xs, ys) < 0:
                xs, ys = xs[::-1], ys[::-1]
            out.append((xs, ys))
    return out


def _dedupe_ring(xs, ys):
    """Drop consecutive (and wraparound) duplicate vertices -- traversal
    output can repeat a point where two intersections coincide, and a
    zero-length edge poisons later intersection tests."""
    keep = []
    n = len(xs)
    for i in range(n):
        j = (i + 1) % n
        if xs[i] != xs[j] or ys[i] != ys[j]:
            keep.append(i)
    return np.asarray(xs)[keep], np.asarray(ys)[keep]


def clip(sx, sy, cx, cy, op: str = "intersection", max_retries: int = 8):
    """Boolean op between subject ring (sx, sy) and clip ring (cx, cy).

    op: 'intersection' | 'difference' (subject minus clip) | 'union'.
    Returns a list of (xs, ys) rings.  Degenerate contact retries with a
    perturbed subject (Foster-style degeneracy removal at the coordinate
    noise floor)."""
    sx, sy = _dedupe_ring(np.asarray(sx, dtype=np.float64), np.asarray(sy, dtype=np.float64))
    cx, cy = _dedupe_ring(np.asarray(cx, dtype=np.float64), np.asarray(cy, dtype=np.float64))
    # normalize both rings to CCW: the entry/exit alternation assumes a
    # consistent winding (a CW input silently mis-classifies for
    # union/difference)
    if len(sx) >= 3 and ring_area(sx, sy) < 0:
        sx, sy = sx[::-1], sy[::-1]
    if len(cx) >= 3 and ring_area(cx, cy) < 0:
        cx, cy = cx[::-1], cy[::-1]
    if len(sx) < 3:
        return [] if op == "intersection" else ([(cx, cy)] if op == "union" and len(cx) >= 3 else [])
    if len(cx) < 3:
        return [(sx, sy)] if op in ("difference", "union") else []
    # identical rings (any cyclic rotation): resolve EXACTLY -- the
    # perturbation path cannot separate a polygon from itself, and in a
    # union_all fold the contaminated output of a perturbed self-union
    # compounds until retries exhaust (hypothesis-found: five identical
    # rectangles)
    if len(sx) == len(cx):
        for r in np.flatnonzero((cx == sx[0]) & (cy == sy[0])):
            if np.array_equal(np.roll(cx, -r), sx) and np.array_equal(np.roll(cy, -r), sy):
                if op == "difference":
                    return []
                return [(sx, sy)]
    sx = sx.copy()
    sy = sy.copy()
    rng_shift = _PERTURB
    for attempt in range(max_retries):
        try:
            return _clip_once(sx, sy, cx, cy, op)
        except ValueError:
            # vary the perturbation DIRECTION per attempt: a fixed
            # direction stays collinear with any edge of the same slope
            ang = 0.7 + 2.39996 * attempt  # golden-angle walk
            sx = sx + rng_shift * np.cos(ang)
            sy = sy + rng_shift * np.sin(ang)
            rng_shift *= 3.7
    raise RuntimeError("degenerate polygon contact persisted after perturbation")


def ring_area(xs, ys) -> float:
    """Planar signed shoelace area (degree^2) -- orientation probe."""
    x = np.asarray(xs, dtype=np.float64)
    y = np.asarray(ys, dtype=np.float64)
    x2, y2 = np.roll(x, -1), np.roll(y, -1)
    return float(np.sum(x * y2 - x2 * y) / 2.0)


def union_all(rings: list) -> list:
    """Union a list of rings into pairwise-disjoint outer rings by a
    GH-union fold (collect-areas union semantics; reference foster.go's
    use in area accumulation).  Hole-free approximation: empty pockets
    fully enclosed by the union are absorbed into the outer ring --
    adequate for footprint-coverage workloads; holes of the INPUT rings
    should be subtracted by the caller if needed.

    Union is associative + commutative, so partitions can be folded
    independently and their results folded again (the two-stage
    distributed aggregation shape)."""
    acc: list = []
    for xs, ys in rings:
        r = (np.asarray(xs, dtype=np.float64), np.asarray(ys, dtype=np.float64))
        if len(r[0]) < 3:
            continue
        changed = True
        while changed:
            changed = False
            for i, a in enumerate(acc):
                if clip(r[0], r[1], a[0], a[1], "intersection"):
                    u = clip(r[0], r[1], a[0], a[1], "union")
                    r = max(u, key=lambda t: abs(ring_area(t[0], t[1])))
                    acc.pop(i)
                    changed = True
                    break
        acc.append(r)
    return acc
