"""The geo_s2_covering oracle (sql_cellmath.py): bit-exact SQL==kernel
equality and the decision-margin guards its float-fidelity argument
rests on.  Spark-free (DuckDB + numpy only), runs in seconds."""

from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

from diagonal_b6_spark import fixtures, sql_cellmath
from diagonal_b6_spark.kernels import cellmath as cm


def _kernel_covering_rows():
    rows = []
    for r in fixtures.feature_rows():
        x = np.array(r["xs"])
        y = np.array(r["ys"])
        if r["feature_type"] == "point" or len(x) == 1:
            cells = cm.cell_id_from_latlng(y[:1], x[:1], cm.MAX_INDEX_LEVEL)
        else:
            cells = cm.covering_ring(
                x, y, max_cells=cm.MAX_COVERING_CELLS, max_level=cm.MAX_INDEX_LEVEL
            )
        for c in np.atleast_1d(cells):
            rows.append(
                (
                    r["feature_id"],
                    str(cm.token(c)[0]),
                    int(np.atleast_1d(cm.level(c))[0]),
                )
            )
    return rows


def test_sql_covering_bit_exact_vs_kernel():
    """The DuckDB replay reproduces the kernel's covering EXACTLY for
    every fixture feature: same cells, same tokens, same levels --
    points (leaf Hilbert encode) and rings (greedy cap refinement)."""
    from diagonal_b6_spark.catalog import sql_geo_s2_covering

    got = (
        duckdb.connect()
        .execute(sql_geo_s2_covering())
        .df()
        .sort_values(["feature_id", "token"])
        .reset_index(drop=True)
    )
    got["level"] = got["level"].astype("int64")
    exp = (
        pd.DataFrame(_kernel_covering_rows(), columns=["feature_id", "token", "level"])
        .sort_values(["feature_id", "token"])
        .reset_index(drop=True)
    )
    exp["level"] = exp["level"].astype("int64")
    assert got.equals(exp), got.merge(exp, how="outer", indicator=True).query(
        "_merge != 'both'"
    )


def _leaf_floor_margins(lat, lng):
    """Distance of s*2^30 (both axes) from the floor the leaf encode
    takes, per point, in leaf-ij units."""
    _, u, v = cm.xyz_to_face_uv(*cm.latlng_to_xyz(lat, lng))
    t = np.concatenate([cm.uv_to_st(u), cm.uv_to_st(v)]) * (1 << cm.MAX_LEVEL)
    frac = t - np.floor(t)
    return np.minimum(frac, 1 - frac)


def _record_cap_cell_margins(monkeypatch):
    """Instrument the kernel's covering decision: every later
    _cap_cell_test call appends |angle - threshold| per cell to the
    returned list."""
    margins = []
    real = cm._cap_cell_test

    def recording(cells, cap_xyz, cap_rad):
        angle, threshold = real(cells, cap_xyz, cap_rad)
        margins.extend(np.abs(angle - threshold).tolist())
        return angle, threshold

    monkeypatch.setattr(cm, "_cap_cell_test", recording)
    return margins


def test_covering_decision_margins(monkeypatch):
    """Every discrete decision the covering makes must sit far above
    cross-engine float noise, or the SQL replay could diverge from the
    kernel by a libm ulp:

    - point encode: distance of s*2^30 from the floor boundary (trig
      noise perturbs s by ~1e-16 relative -> ~1e-6 leaf-ij units);
    - ring refinement: |angle - threshold| of every _cap_cell_test
      evaluation the real covering_ring performs.  Kernel and replay
      evaluate the same xyz expressions, so the noise is libm ulps,
      ~1e-12 rad at most.

    A new fixture feature that lands near a boundary fails HERE, before
    it can silently flip the gate oracle."""
    ring_margins = _record_cap_cell_margins(monkeypatch)
    pt_margins = []
    for r in fixtures.feature_rows():
        x = np.array(r["xs"])
        y = np.array(r["ys"])
        if r["feature_type"] == "point" or len(x) == 1:
            pt_margins.extend(_leaf_floor_margins(y[:1], x[:1]))
        else:
            cm.covering_ring(x, y)
    assert min(pt_margins) > 1e-4, min(pt_margins)  # measured 4.2e-3
    assert min(ring_margins) > 1e-9, min(ring_margins)  # measured 3.3e-7


def test_corpus_ring_covering_margins(monkeypatch):
    """geo_s2_covering_rings margin guard: the greedy loop's decision
    margins over the FULL sf0.01 ring family (200 synthetic squares,
    40-1480 m) must sit far above cross-engine float noise, same
    criterion as the fixture guard above."""
    margins = _record_cap_cell_margins(monkeypatch)
    for e in range(0, 10000, 50):
        lat = 51.50 + 0.08 * ((e * 2654435761) % 1000003) / 1000003.0
        lng = -0.16 + 0.10 * ((e * 40503) % 999983) / 999983.0
        half = 20.0 * (1 + e % 37)
        dlat = half / 111195.0
        dlng = half / 69000.0
        xs = np.array([lng - dlng, lng + dlng, lng + dlng, lng - dlng])
        ys = np.array([lat - dlat, lat - dlat, lat + dlat, lat + dlat])
        cm.covering_ring(xs, ys)
    assert min(margins) > 1e-9, min(margins)


def test_corpus_point_encode_margins():
    """geo_s2_cells margin guard: every events point of every scale
    factor (LAT_SQL/LNG_SQL, evaluated by the oracle engine) keeps its
    leaf-encode floor decision above the ~1e-6 leaf units that
    cross-engine trig noise can move it (see the fixture guard above).  Measured minima: 6.2e-4
    (sf0.001), 1.3e-5 (sf0.01), 3.2e-6 (sf0.1) -- the corpus margin
    shrinks with row count, so a larger corpus must pass here first."""
    from diagonal_b6_spark.catalog import LAT_SQL, LNG_SQL
    from test_oracle_parity import SF_DIR

    paths = sorted(Path(SF_DIR).parent.glob("sf*/events.parquet"))
    assert paths, SF_DIR
    for path in paths:
        lat, lng = (
            duckdb.connect()
            .execute(f"SELECT {LAT_SQL} AS lat, {LNG_SQL} AS lng FROM read_parquet('{path}')")
            .fetchnumpy()
            .values()
        )
        margin = _leaf_floor_margins(lat, lng).min()
        assert margin > 1e-6, (str(path), margin)
