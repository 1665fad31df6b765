"""Kernel invariants for the S2 cell math (SURVEY.md §5.2: internal
consistency is what join correctness needs; see §7.3.1-2)."""

import numpy as np
import pytest

from diagonal_b6_spark.kernels import cellmath as cm


RNG = np.random.default_rng(42)
LATS = RNG.uniform(-85, 85, 500)
LNGS = RNG.uniform(-180, 180, 500)


def test_leaf_ids_are_valid_leaves():
    ids = cm.cell_id_from_latlng(LATS, LNGS)
    assert (ids & np.uint64(1) == 1).all()  # leaf marker bit
    assert (cm.level(ids) == cm.MAX_LEVEL).all()
    faces = (ids >> np.uint64(61)).astype(int)
    assert ((0 <= faces) & (faces <= 5)).all()


def test_roundtrip_center_stays_in_cell():
    for lvl in (4, 8, 12, 16):
        ids = cm.cell_id_from_latlng(LATS, LNGS, lvl)
        clat, clng = cm.cell_center_latlng(ids)
        ids2 = cm.cell_id_from_latlng(clat, clng, lvl)
        assert (ids == ids2).all(), f"center escaped its cell at level {lvl}"


def test_tokens_for_covering_reference_fixture():
    """The reference's own search/spatial_test.go TestAncestorCellIDTokens:
    the covering {48761b3dc, 48761b3c4} posts exactly 17 tokens (2 s2 +
    15 deduped ancestors) including 'a2:484'."""
    ids = cm.token_to_id(["48761b3dc", "48761b3c4"])
    toks = cm.tokens_for_covering(ids)
    assert len(toks) == 17
    assert "a2:484" in toks
    assert sum(t.startswith("s2:") for t in toks) == 2
    assert len(set(toks)) == 17
    # every a2 token is a strict ancestor of a covering cell
    for t in toks:
        if t.startswith("a2:"):
            anc = cm.token_to_id([t[3:]])[0]
            assert cm.contains(anc, ids).any()


def test_tokens_for_covering_skips_level0_s2():
    face_cell = cm.parent(cm.cell_id_from_latlng(10.0, 20.0), np.int64(0))
    toks = cm.tokens_for_covering(face_cell)
    # a level-0 covering cell posts no s2: token and has no ancestors
    assert toks == []


def test_parent_contains_child():
    leaf = cm.cell_id_from_latlng(LATS, LNGS)
    for lvl in (0, 3, 7, 16, 29):
        par = cm.parent(leaf, np.int64(lvl))
        assert (cm.level(par) == lvl).all()
        assert cm.contains(par, leaf).all()
        # parent at lvl is also the parent of the level-(lvl+1) ancestor
        par2 = cm.parent(cm.parent(leaf, np.int64(lvl + 1)), np.int64(lvl))
        assert (par == par2).all()


def test_children_partition_parent_range():
    ids = cm.cell_id_from_latlng(LATS[:20], LNGS[:20], 10)
    kids = cm.children(ids)
    assert kids.shape == (20, 4)
    for r in range(20):
        ks = np.sort(kids[r])
        assert cm.range_min(ids[r]) == cm.range_min(ks[0])
        assert cm.range_max(ids[r]) == cm.range_max(ks[3])
        # leaf ids are odd; sibling ranges abut with a gap of 2 (no leaf between)
        for a in range(3):
            assert int(cm.range_max(ks[a])) + 2 == int(cm.range_min(ks[a + 1]))
        assert (cm.level(ks) == 11).all()


def test_nearby_points_share_coarse_cell():
    # points 10 m apart share their level-12 (~3-5 km) cell ancestors
    a = cm.cell_id_from_latlng(np.array([51.5350]), np.array([-0.1250]), 12)
    b = cm.cell_id_from_latlng(np.array([51.5351]), np.array([-0.1250]), 12)
    assert a[0] == b[0]


def test_distant_points_differ():
    a = cm.cell_id_from_latlng(np.array([51.5]), np.array([-0.1]), 4)
    b = cm.cell_id_from_latlng(np.array([-33.8]), np.array([151.2]), 4)
    assert a[0] != b[0]


def test_signed_order_preserved():
    ids = cm.cell_id_from_latlng(LATS, LNGS)
    s = cm.id_to_signed(ids)
    order_u = np.argsort(ids)
    order_s = np.argsort(s)
    assert (order_u == order_s).all()
    assert (cm.signed_to_id(s) == ids).all()


def test_token_roundtrip():
    ids = cm.cell_id_from_latlng(LATS[:50], LNGS[:50], 16)
    toks = cm.token(ids)
    assert (cm.token_to_id(toks) == ids).all()


def test_covering_cap_contains_inner_points_excludes_far():
    center_lat, center_lng = 51.535, -0.125
    cover = cm.covering_cap(center_lat, center_lng, 500.0)
    assert 1 <= cover.size <= cm.MAX_COVERING_CELLS
    assert (cm.level(cover) <= cm.MAX_INDEX_LEVEL).all()
    # every point inside the cap must fall under some covering cell
    rng = np.random.default_rng(7)
    t = rng.uniform(0, 2 * np.pi, 200)
    r = rng.uniform(0, 480, 200)
    plat = center_lat + (r / 111195.0) * np.sin(t)
    plng = center_lng + (r / (111195.0 * np.cos(np.radians(center_lat)))) * np.cos(t)
    leafs = cm.cell_id_from_latlng(plat, plng)
    hit = np.zeros(200, dtype=bool)
    for c in cover:
        hit |= cm.contains(c, leafs)
    assert hit.all(), "cap covering missed interior points"
    # a point 50 km away must not match
    far = cm.cell_id_from_latlng(np.array([51.98]), np.array([-0.125]))
    for c in cover:
        assert not cm.contains(c, far)[0]


def test_covering_deterministic():
    a = cm.covering_cap(51.5, -0.12, 1000.0)
    b = cm.covering_cap(51.5, -0.12, 1000.0)
    assert (a == b).all()


def test_covering_ring_superset():
    # 400 m square: interior points covered
    dlat = 200 / 111195.0
    dlng = 200 / (111195.0 * np.cos(np.radians(51.535)))
    xs = np.array([-0.125 - dlng, -0.125 + dlng, -0.125 + dlng, -0.125 - dlng])
    ys = np.array([51.535 - dlat, 51.535 - dlat, 51.535 + dlat, 51.535 + dlat])
    cover = cm.covering_ring(xs, ys)
    assert 1 <= cover.size <= cm.MAX_COVERING_CELLS
    inner = cm.cell_id_from_latlng(np.array([51.535]), np.array([-0.125]))
    assert any(cm.contains(c, inner)[0] for c in cover)
    corners = cm.cell_id_from_latlng(ys, xs)
    for k in range(4):
        assert any(cm.contains(c, corners[k : k + 1])[0] for c in cover)


def test_expand_to_bucket_level():
    cells = cm.covering_cap(51.5, -0.12, 800.0)
    buckets, idx = cm.expand_to_bucket_level(cells, bucket_level=6)
    assert (cm.level(buckets) == 6).all()
    assert idx.shape == buckets.shape
    # each original fine cell's bucket must be its level-6 ancestor
    for b, i in zip(buckets, idx):
        c = cells[i]
        if cm.level(np.array([c]))[0] >= 6:
            assert b == cm.parent(np.array([c]), np.int64(6))[0]
        else:
            assert cm.contains(np.array([c]), cm.range_min(np.array([b])))[0]


def test_antimeridian_cells():
    # points on both sides of the antimeridian at the equator get valid cells
    ids = cm.cell_id_from_latlng(np.array([0.0, 0.0]), np.array([179.999, -179.999]), 16)
    assert (cm.level(ids) == 16).all()
    lat, lng = cm.cell_center_latlng(ids)
    assert np.all(np.abs(lat) < 0.1)
    assert np.all(np.abs(np.abs(lng) - 180) < 0.1)


def test_tile_assignment_reference_vector():
    """Mirror of the reference's TestTileBoundsHaveCorrectGeometry
    (b6/tiles_test.go:26-44): the three pinned Granary Square points all
    land in tile (130980, 87135) at z18 under our mercator math."""
    import numpy as np
    from diagonal_b6_spark.kernels import geom

    lats = np.array([51.536933, 51.536543, 51.536112])
    lngs = np.array([-0.126037, -0.125624, -0.125007])
    x, y = geom.latlng_to_tile(lats, lngs, 18)
    assert list(x) == [130980] * 3
    assert list(y) == [87135] * 3


# sha256 over every covering below, each as uint64 [len, ids...]; pinned
# before the covering's cap-cell test moved from lat/lng probes to xyz
_COVERINGS_SHA256 = "77c89a3fabf932b5fc824f9e508898d7b36aa914b9f6783710118f2ed57e8761"


def _pinned_coverings():
    rng = np.random.default_rng(20261019)
    for _ in range(500):
        lat = rng.uniform(-89.9, 89.9)
        lng = rng.uniform(-180.0, 180.0)
        yield cm.covering_cap(lat, lng, 10.0 ** rng.uniform(0.0, 6.3))
    for r in range(500):
        n = int(rng.integers(3, 65))
        lat = rng.uniform(-85.0, 85.0)
        # every 5th ring is centred on the antimeridian
        lng = 180.0 if r % 5 == 0 else rng.uniform(-180.0, 180.0)
        radius = 10.0 ** rng.uniform(0.0, np.log10(3e5))
        th = np.sort(rng.uniform(0.0, 2 * np.pi, n))
        d = radius * rng.uniform(0.3, 1.0, n)
        ys = lat + d * np.sin(th) / 111195.0
        xs = lng + d * np.cos(th) / (111195.0 * np.cos(np.radians(lat)))
        yield cm.covering_ring((xs + 180.0) % 360.0 - 180.0, ys)


def test_coverings_pinned():
    """Regression pin: 500 random caps (1 m - 2,000 km, anywhere) and 500
    random rings (3-64 vertices, 1 m - 300 km, some across the
    antimeridian) cover to exactly the cells they did before the
    covering's float decision was rewritten."""
    import hashlib

    h = hashlib.sha256()
    for cells in _pinned_coverings():
        h.update(np.concatenate([[np.uint64(cells.size)], cells]).astype("<u8").tobytes())
    assert h.hexdigest() == _COVERINGS_SHA256
