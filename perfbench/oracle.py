"""Reference answers computed without the engine: plain numpy geometry.

Each function recomputes what an engine operation should return from the
generated inputs alone (even-odd point-in-polygon over all rings,
haversine distance, web-mercator tiles), so a wrong engine result cannot
also be the expected one.
"""

from __future__ import annotations

import numpy as np

EARTH_RADIUS_M = 6371010.0
MERCATOR_MAX_LAT = 85.05112878


def inside(px: np.ndarray, py: np.ndarray, xs, ys, ring_offsets) -> np.ndarray:
    """Even-odd rule over every ring (holes flip parity), half-open edges."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    bounds = list(ring_offsets) + [len(xs)]
    odd = np.zeros(len(px), dtype=bool)
    for a, b in zip(bounds[:-1], bounds[1:]):
        x1, y1 = xs[a:b], ys[a:b]
        x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
        for e in range(len(x1)):
            spans = (y1[e] > py) != (y2[e] > py)
            if not spans.any():
                continue
            idx = np.nonzero(spans)[0]
            xint = x1[e] + (py[idx] - y1[e]) * (x2[e] - x1[e]) / (y2[e] - y1[e])
            odd[idx[px[idx] < xint]] ^= True
    return odd


def containment_pairs(ids, lat, lng, polygons: list[dict]) -> set[tuple[str, str]]:
    """Every (point id, feature id) with the point inside the area feature."""
    out = set()
    for f in polygons:
        xs, ys = np.asarray(f["xs"]), np.asarray(f["ys"])
        box = (lng >= xs.min()) & (lng <= xs.max()) & (lat >= ys.min()) & (lat <= ys.max())
        idx = np.nonzero(box)[0]
        hit = idx[inside(lng[idx], lat[idx], xs, ys, f["ring_offsets"])]
        out.update((ids[i], f["feature_id"]) for i in hit)
    return out


def haversine_m(lat1, lng1, lat2, lng2):
    p1, p2 = np.radians(lat1), np.radians(lat2)
    a = np.sin((p2 - p1) / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(
        (np.radians(lng2) - np.radians(lng1)) / 2
    ) ** 2
    return 2 * EARTH_RADIUS_M * np.arcsin(np.sqrt(a))


def tile_xy(lat, lng, zoom: int) -> tuple[np.ndarray, np.ndarray]:
    n = float(1 << zoom)
    latr = np.radians(np.clip(lat, -MERCATOR_MAX_LAT, MERCATOR_MAX_LAT))
    x = np.floor((lng + 180.0) / 360.0 * n).astype(np.int64)
    y = np.floor((1.0 - np.log(np.tan(latr) + 1.0 / np.cos(latr)) / np.pi) / 2.0 * n).astype(np.int64)
    hi = (1 << zoom) - 1
    return np.clip(x, 0, hi), np.clip(y, 0, hi)


def nearest(lat, lng, pois: list[tuple[str, float, float]]) -> tuple[np.ndarray, np.ndarray]:
    """(index of nearest poi, distance) per point; ties go to the lower
    (distance, id) pair as the engine's least() over structs does."""
    d = np.stack([haversine_m(plat, plng, lat, lng) for _, plat, plng in pois])
    order = sorted(range(len(pois)), key=lambda k: pois[k][0])
    d = d[order]
    best = np.argmin(d, axis=0)
    return np.asarray(order)[best], d[best, np.arange(d.shape[1])]


def knn(ids, lat, lng, plat: float, plng: float, k: int) -> list[str]:
    """Ids of the k nearest points, ties broken by id."""
    d = haversine_m(plat, plng, lat, lng)
    cut = np.partition(d, min(k, len(d) - 1))[min(k, len(d) - 1)]
    idx = np.nonzero(d <= cut)[0]
    ranked = sorted(idx, key=lambda i: (d[i], ids[i]))
    return [ids[i] for i in ranked[:k]]
