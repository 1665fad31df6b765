"""Deterministic synthetic fixtures (FIXTURES.md): the image+caption table
mandated by BASELINE.json input_hint and the b6-style vector features table.

The image table is generated distributed: a range DataFrame of ids is
mapped through an Arrow-batched ``mapInPandas`` generator, so "generate N
images" scales horizontally like any other stage (no driver-side loop).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .kernels import imagecodec as ic

ADJ = ["quiet", "bright", "old", "busy", "green", "small", "grand"]
NOUN = [
    "square",
    "bridge",
    "market",
    "canal",
    "station",
    "park",
    "alley",
    "tower",
    "gate",
    "yard",
    "bench",
]

WIDTHS = [16, 32, 48, 64]
HEIGHTS = [16, 24, 32, 64]
FMTS = ["raw", "bmp", "lossy"]

# dense cluster (FIXTURES.md §1): 1% of rows in a 250 m disk -> cell skew
DENSE_LAT, DENSE_LNG, DENSE_R_M = 51.535, -0.125, 250.0

IMAGE_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long, lat double, lng double"
)


def _frac(x: np.ndarray) -> np.ndarray:
    return x - np.floor(x)


def image_latlng(i: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic hash-noise lat/lng per FIXTURES.md §1, with every 100th
    row pulled into the dense disk to force cell skew."""
    i = np.asarray(i, dtype=np.float64)
    lat = 51.50 + 0.08 * _frac(np.sin(i * 12.9898) * 43758.5453)
    lng = -0.16 + 0.10 * _frac(np.sin(i * 78.233) * 12345.6789)
    dense = (i.astype(np.int64) % 100) == 0
    if dense.any():
        t = _frac(np.sin(i[dense] * 3.77) * 9631.17) * 2 * np.pi
        r = np.sqrt(_frac(np.sin(i[dense] * 5.31) * 7919.79)) * DENSE_R_M
        lat_d = DENSE_LAT + (r / 111195.0) * np.sin(t)
        lng_d = DENSE_LNG + (r / (111195.0 * np.cos(np.radians(DENSE_LAT)))) * np.cos(t)
        lat[dense] = lat_d
        lng[dense] = lng_d
    return lat, lng


def _gen_rows(ids: np.ndarray) -> pd.DataFrame:
    ids = np.asarray(ids, dtype=np.int64)
    lat, lng = image_latlng(ids)
    w_arr = np.array(WIDTHS)[ids % 4]
    h_arr = np.array(HEIGHTS)[(ids // 4) % 4]
    fmt_arr = np.array(FMTS)[ids % 3]
    bufs: list[bytes | None] = [None] * len(ids)
    phash = np.zeros(len(ids), dtype=np.int64)
    # batch-vectorized per (w, h, fmt) group: one pix_batch + one batch
    # encoder call per group (the DCT einsum spans the whole group)
    grouping = pd.DataFrame({"w": w_arr, "h": h_arr, "fmt": fmt_arr, "k": np.arange(len(ids))})
    for (w, h, fmt), grp in grouping.groupby(["w", "h", "fmt"]):
        kk = grp["k"].to_numpy()
        imgs = ic.pix_batch(ids[kk], int(w), int(h))
        phash[kk] = ic.fnv1a64_batch(imgs.reshape(len(kk), -1))
        for pos, buf in zip(kk, ic.encode_batch(imgs, str(fmt))):
            bufs[int(pos)] = buf
    return pd.DataFrame(
        {
            "image_id": [f"img{i:012d}" for i in ids],
            "bytes": bufs,
            "w": w_arr.astype(np.int32),
            "h": h_arr.astype(np.int32),
            "fmt": fmt_arr,
            "caption": [
                f"caption for img{i:012d}: {ADJ[i % 7]} {NOUN[i % 11]}" for i in ids
            ],
            "phash": phash,
            "lat": lat,
            "lng": lng,
        }
    )


def images_table(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """Distributed generation of the image+caption table (FIXTURES.md §1)."""
    parts = partitions or max(8, n // 25_000)

    def gen(batches):
        # emit in bounded chunks regardless of the incoming Arrow batch
        # size: a whole-partition batch of image rows (~3 KB each) would
        # otherwise allocate multi-100MB Arrow buffers per task and blow
        # the JVM direct-memory budget at high task counts
        chunk = 25_000
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            for k in range(0, len(ids), chunk):
                if len(ids[k : k + chunk]):
                    yield _gen_rows(ids[k : k + chunk])

    return (
        spark.range(0, n, numPartitions=parts)
        .mapInPandas(gen, schema=IMAGE_SCHEMA)
    )


# ---------------------------------------------------------------------------
# Vector features (FIXTURES.md §2) -- hand-built, coordinates pinned.
# ---------------------------------------------------------------------------


def _square(clat: float, clng: float, half_m: float) -> tuple[list[float], list[float]]:
    dlat = half_m / 111195.0
    dlng = half_m / (111195.0 * np.cos(np.radians(clat)))
    xs = [clng - dlng, clng + dlng, clng + dlng, clng - dlng]
    ys = [clat - dlat, clat - dlat, clat + dlat, clat + dlat]
    return xs, ys


def feature_rows() -> list[dict]:
    rows: list[dict] = []

    def area(val, name, xs, ys, offs, tags):
        rows.append(
            {
                "feature_id": f"area/test/{val}",
                "feature_type": "area",
                "ns": "test/fixtures",
                "tags": dict(tags, name=name),
                "xs": [float(v) for v in xs],
                "ys": [float(v) for v in ys],
                "ring_offsets": [int(v) for v in offs],
            }
        )

    # 1. square: 400 m across (half = 200 m), #building=yes
    xs, ys = _square(51.535, -0.125, 200.0)
    area(1, "square", xs, ys, [0], {"#building": "yes"})

    # 2. hole: 600 m square with 200 m hole
    oxs, oys = _square(51.528, -0.145, 300.0)
    hxs, hys = _square(51.528, -0.145, 100.0)
    area(2, "hole", oxs + hxs, oys + hys, [0, 4], {"#building": "yes"})

    # 3. concave C-shape (10 vertices), ~600 m tall, opening east
    u = 100.0 / 111195.0  # ~100 m in degrees lat
    v = 100.0 / (111195.0 * np.cos(np.radians(51.545)))
    cx, cy = -0.105, 51.545
    xs3 = [cx, cx + 4 * v, cx + 4 * v, cx + 1 * v, cx + 1 * v, cx + 4 * v, cx + 4 * v, cx]
    ys3 = [cy, cy, cy + u, cy + u, cy + 3 * u, cy + 3 * u, cy + 4 * u, cy + 4 * u]
    area(3, "concave", xs3, ys3, [0], {"#landuse": "park"})

    # 4. antimeridian: 200 m square straddling lng=180 at lat 0
    dlng = 100.0 / 111195.0
    area(
        4,
        "antimeridian",
        [180.0 - dlng, -(180.0 - dlng), -(180.0 - dlng), 180.0 - dlng],
        [-dlng, -dlng, dlng, dlng],
        [0],
        {"#natural": "water"},
    )

    # 5. tiny 5 m triangle
    t = 2.5 / 111195.0
    area(5, "tiny", [-0.150, -0.150 + 2 * t, -0.150 + t], [51.510, 51.510, 51.510 + 2 * t], [0], {"#building": "hut"})

    # 6. street: 12-vertex polyline ~1.2 km through the dense cluster
    s_lats = list(51.5305 + np.linspace(0, 0.009, 12))
    s_lngs = list(-0.131 + np.linspace(0, 0.012, 12) + 0.0012 * np.sin(np.linspace(0, 3, 12)))
    rows.append(
        {
            "feature_id": "path/test/6",
            "feature_type": "path",
            "ns": "test/fixtures",
            "tags": {"#highway": "primary", "name": "street"},
            "xs": [float(v) for v in s_lngs],
            "ys": [float(v) for v in s_lats],
            "ring_offsets": [0],
        }
    )

    # 27/28: shops ON street vertices (shared network nodes -- the
    # reference's reachable only sees point features sitting on reached
    # vertices, graph/graph.go PointDistances); 29: an origin point on a
    # street vertex (NewShortestPathSearchFromPoint seeds only connected
    # nodes)
    for pid, vi, ptags in (
        (27, 3, {"#shop": "coffee"}),
        (28, 9, {"#shop": "coffee"}),
        (29, 0, {"entrance": "yes"}),
    ):
        rows.append(
            {
                "feature_id": f"point/test/{pid}",
                "feature_type": "point",
                "ns": "test/fixtures",
                "tags": ptags,
                "xs": [float(s_lngs[vi])],
                "ys": [float(s_lats[vi])],
                "ring_offsets": [0],
            }
        )

    # 7..26: POI points; 10 inside square, 5 inside hole's solid part, 5 outside
    sq_xs, sq_ys = _square(51.535, -0.125, 160.0)  # strictly inside square
    amen = ["bench", "cafe", "pub"]
    pts: list[tuple[float, float]] = []
    for k in range(10):  # inside square (400 m across, stay within 160 m)
        pts.append((sq_ys[0] + (k + 1) * (sq_ys[2] - sq_ys[0]) / 11.0, sq_xs[0] + (k + 1) * (sq_xs[1] - sq_xs[0]) / 11.0))
    for k in range(5):  # inside hole polygon's solid ring (between 100 m and 300 m from centre)
        ang = 2 * np.pi * k / 5.0
        r = 200.0
        pts.append(
            (
                51.528 + (r / 111195.0) * np.sin(ang),
                -0.145 + (r / (111195.0 * np.cos(np.radians(51.528)))) * np.cos(ang),
            )
        )
    for k in range(5):  # outside all areas
        pts.append((51.570 + 0.001 * k, -0.060 + 0.002 * k))
    for k, (plat, plng) in enumerate(pts):
        rows.append(
            {
                "feature_id": f"point/test/{7 + k}",
                "feature_type": "point",
                "ns": "test/fixtures",
                "tags": {"#amenity": amen[k % 3]},
                "xs": [float(plng)],
                "ys": [float(plat)],
                "ring_offsets": [0],
            }
        )
    return rows


FEATURE_SCHEMA = (
    "feature_id string, feature_type string, ns string, tags map<string,string>, "
    "xs array<double>, ys array<double>, ring_offsets array<int>"
)


def features_table(spark: SparkSession) -> DataFrame:
    """The fixture features as a JVM-local table: built from pandas
    through Arrow it plans as a LocalTableScan, where a list of rows goes
    through a pickled Python RDD and every scan of it runs a Python
    worker."""
    return spark.createDataFrame(pd.DataFrame(feature_rows()), schema=FEATURE_SCHEMA)


def testdata(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
