"""Seeded input generators for the benchmark.

Everything here is plain numpy + pyarrow: the engine receives only the
tables these functions write, never the generator.  The same seed gives
byte-identical inputs, and `content_hash` lets two sides of a comparison
prove they ran the same inputs.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The study area of the engine's fixtures (FIXTURES.md): a ~9 x 7 km box
# over central London, with a hot 250 m disk under the fixture's square.
LAT0, LAT1 = 51.50, 51.58
LNG0, LNG1 = -0.16, -0.06
HOT_LAT, HOT_LNG, HOT_R_M = 51.535, -0.125, 250.0
M_PER_DEG = 111195.0

IMAGE_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("bytes", pa.binary()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("fmt", pa.string()),
        ("caption", pa.string()),
        ("phash", pa.int64()),
        ("lat", pa.float64()),
        ("lng", pa.float64()),
    ]
)

FEATURE_SCHEMA = pa.schema(
    [
        ("feature_id", pa.string()),
        ("feature_type", pa.string()),
        ("ns", pa.string()),
        ("tags", pa.map_(pa.string(), pa.string())),
        ("xs", pa.list_(pa.float64())),
        ("ys", pa.list_(pa.float64())),
        ("ring_offsets", pa.list_(pa.int32())),
    ]
)

_WORDS = ["quiet", "bright", "old", "busy", "green", "canal", "market", "bridge", "park", "gate"]
_FMTS = ["raw", "bmp", "lossy"]
# tag values the shell queries select on; each polygon gets one of each key
LANDUSE = ["park", "retail", "residential", "industrial"]
BUILDING = ["yes", "no"]


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per input, so adding an input never
    shifts the values of another."""
    key = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:4], "little")
    return np.random.default_rng([seed, key])


def points(rng: np.random.Generator, n: int, hot_share: float) -> tuple[np.ndarray, np.ndarray]:
    """lat/lng arrays: uniform over the study box, `hot_share` of them in
    the hot disk (cell skew)."""
    lat = LAT0 + (LAT1 - LAT0) * rng.random(n)
    lng = LNG0 + (LNG1 - LNG0) * rng.random(n)
    hot = rng.random(n) < hot_share
    k = int(hot.sum())
    t = rng.random(k) * 2 * np.pi
    r = np.sqrt(rng.random(k)) * HOT_R_M
    lat[hot] = HOT_LAT + (r / M_PER_DEG) * np.sin(t)
    lng[hot] = HOT_LNG + (r / (M_PER_DEG * np.cos(np.radians(HOT_LAT)))) * np.cos(t)
    return lat, lng


def images(rng: np.random.Generator, n: int, hot_share: float, first_id: int = 0) -> pa.Table:
    """A full IMAGE_SCHEMA table: random 0.5-2 KB payloads stand in for
    encoded pixels (the joins never decode them; the writers copy them)."""
    lat, lng = points(rng, n, hot_share)
    ids = np.arange(first_id, first_id + n)
    sizes = rng.integers(512, 2048, n)
    offs = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(sizes, out=offs[1:])
    blob = rng.integers(0, 256, int(offs[-1]), dtype=np.uint8)
    payload = pa.Array.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(offs), pa.py_buffer(blob)]
    )
    w = rng.choice(np.array([16, 32, 48, 64], dtype=np.int32), n)
    h = rng.choice(np.array([16, 24, 32, 64], dtype=np.int32), n)
    words = np.array(_WORDS)
    caption = np.char.add(np.char.add(words[rng.integers(0, len(_WORDS), n)], " "),
                          words[rng.integers(0, len(_WORDS), n)])
    return pa.table(
        [
            pa.array([f"img{i:012d}" for i in ids]),
            payload,
            pa.array(w),
            pa.array(h),
            pa.array(np.array(_FMTS)[rng.integers(0, 3, n)]),
            pa.array(caption),
            pa.array(rng.integers(-(2**63), 2**63 - 1, n, dtype=np.int64)),
            pa.array(lat),
            pa.array(lng),
        ],
        schema=IMAGE_SCHEMA,
    )


def _ring(rng, clat, clng, radius_m, nv):
    """A simple star-shaped ring: sorted angles, jittered radii."""
    ang = np.sort(rng.random(nv)) * 2 * np.pi
    rad = radius_m * (0.6 + 0.4 * rng.random(nv))
    ys = clat + (rad / M_PER_DEG) * np.sin(ang)
    xs = clng + (rad / (M_PER_DEG * np.cos(np.radians(clat)))) * np.cos(ang)
    return xs, ys


POLY_RADIUS_M = (80.0, 600.0)
POLY_VERTICES = (8, 64)
POLY_HOLE_SHARE = 0.25


def polygons(rng: np.random.Generator, m: int, hot_share: float) -> list[dict]:
    """Area features in the engine's packed-array layout.  Vertex count
    and radius vary per polygon; POLY_HOLE_SHARE of them carry a hole (an
    inner ring inside the outer ring's minimum radius) and `hot_share`
    sit over the hot disk."""
    out = []
    for k in range(m):
        if rng.random() < hot_share:
            clat, clng = HOT_LAT, HOT_LNG
            clat += (rng.random() - 0.5) * 300.0 / M_PER_DEG
            clng += (rng.random() - 0.5) * 300.0 / M_PER_DEG
        else:
            clat = LAT0 + 0.005 + (LAT1 - LAT0 - 0.01) * rng.random()
            clng = LNG0 + 0.008 + (LNG1 - LNG0 - 0.016) * rng.random()
        r = POLY_RADIUS_M[0] + (POLY_RADIUS_M[1] - POLY_RADIUS_M[0]) * rng.random()
        nv = int(rng.integers(POLY_VERTICES[0], POLY_VERTICES[1] + 1))
        xs, ys = _ring(rng, clat, clng, r, nv)
        offs = [0]
        if rng.random() < POLY_HOLE_SHARE:
            hx, hy = _ring(rng, clat, clng, 0.5 * r, max(4, nv // 4))
            offs.append(len(xs))
            xs, ys = np.concatenate([xs, hx[::-1]]), np.concatenate([ys, hy[::-1]])
        out.append(
            {
                "feature_id": f"area/bench/{k}",
                "feature_type": "area",
                "ns": "bench",
                "tags": [
                    ("#landuse", LANDUSE[int(rng.integers(0, len(LANDUSE)))]),
                    ("#building", BUILDING[int(rng.integers(0, len(BUILDING)))]),
                ],
                "xs": xs.tolist(),
                "ys": ys.tolist(),
                "ring_offsets": offs,
            }
        )
    return out


def features_table(rows: list[dict]) -> pa.Table:
    return pa.Table.from_pylist(rows, schema=FEATURE_SCHEMA)


def write(table: pa.Table, path: str, files: int = 1) -> dict:
    """Write `table` as `files` parquet files under directory `path`;
    returns the input's record (rows, bytes, content hash)."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = -(-n // files) if n else 1
    for k in range(files):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:05d}.parquet"))
    size = sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))
    return {"rows": n, "bytes": size, "sha256": content_hash(table)}


def content_hash(table: pa.Table) -> str:
    """sha256 over every column's values in row order (independent of
    parquet encoding and file split)."""
    h = hashlib.sha256()
    for col in table.columns:
        for chunk in col.chunks:
            for buf in chunk.buffers():
                if buf is not None:
                    h.update(buf)
    return h.hexdigest()
