"""DuckDB-SQL replay of the S2 covering kernel (kernels/cellmath.py) for
oracle verification.

The covering is the engine's core index primitive (reference semantics:
b6/search/spatial.go:30-32 index parameters, b6/api/functions/s2.go:48-59
s2-covering); until round 5 it was the weakest-checked gate key
(rows-only).  This module makes it fully value-checked by regenerating
the ENTIRE covering independently in SQL:

- Point features: lat/lng -> unit xyz -> cube-face + (u,v) -> quadratic
  uv->st -> 30-bit (i,j) -> per-level Hilbert position encode (recursive
  CTE over the 30 levels with the published S2 orientation tables as
  inline constants) -> level-16 parent -> token.  The per-level form is
  exactly equivalent to the kernel's 4-level chunked-lookup optimization
  (cellmath.py verifies that equivalence exhaustively in its own tests).

- Ring features (areas / paths): the bounding-cap construction (vertex
  unit-vector mean, normalized; max vertex angle; lat/lng roundtrip of
  the centroid exactly as covering_ring does) followed by the greedy
  budgeted refinement loop of covering_cap -- split the lowest-level /
  smallest-id candidate, keep children passing the conservative
  circumangle intersection test, stop when the 5-cell budget would be
  exceeded -- replayed ONE LOOP ITERATION PER recursive-CTE step, the
  candidate set carried as a LIST<STRUCT(lvl, id, face, i0, j0, ori)>
  column.  Tracking each cell's leaf-resolution (i0, j0) corner and
  Hilbert orientation through the splits removes any need for the
  Hilbert DECODE in SQL: children ids are pure arithmetic
  (id - 3*lsb/4 + 2*pos*lsb/4) and child corners come from the
  POS_TO_IJ table.

Float fidelity: every discrete decision the kernel makes (floor of
s*2^30 for points, `ang <= cap_rad + circumangle + 1e-12` for rings,
the budget comparisons) is replayed on IEEE doubles in both engines.
The ring test evaluates the same five xyz probes with the same
expressions as the kernel's _cap_cell_test, but numpy and DuckDB libm
results can differ by ~1 ulp, so correctness rests on the decision
margins being far above that noise.  Measured minima over the fixture
set: 4.2e-3 leaf-ij units (points, vs ~1e-6 units of trig noise) and
3.3e-7 rad (rings, vs ~1e-12 rad).  The events corpus points sit much
closer to their floors (6.2e-4 at sf0.001, 1.3e-5 at sf0.01, 3.2e-6
at sf0.1), so a larger corpus is only safe to encode in another
engine after its own margin check.  tests/test_sql_cellmath.py pins
all of these margins and the bit-exact SQL==kernel equality for the
whole fixture set.
"""

from __future__ import annotations

# Published S2 Hilbert orientation tables (kernels/cellmath.py:44-64),
# flattened for 1-based SQL list indexing [orient*4 + key + 1].
IJ_TO_POS = "[0,1,3,2, 0,3,1,2, 2,3,1,0, 2,1,3,0]"
POS_TO_IJ = "[0,1,3,2, 0,2,3,1, 3,2,0,1, 3,1,0,2]"
POS_TO_ORI = "[1,0,0,3]"

# 2^61 and 2^60 as UBIGINT literals (face<<61 overflows BIGINT for faces
# 4-5, so all id arithmetic stays in UBIGINT via multiply/divide)
_P61 = "2305843009213693952::UBIGINT"
_P60 = "1152921504606846976::UBIGINT"

MAX_COVERING_CELLS = 5
MAX_INDEX_LEVEL = 16


def _uv_to_st(u: str) -> str:
    """Quadratic UV->ST (cellmath.uv_to_st)."""
    return (f"(CASE WHEN {u} >= 0 THEN 0.5*sqrt(abs(1.0 + 3.0*{u})) "
            f"ELSE 1.0 - 0.5*sqrt(abs(1.0 - 3.0*{u})) END)")


def _st_to_uv(s: str) -> str:
    """Quadratic ST->UV (cellmath.st_to_uv)."""
    return (f"(CASE WHEN {s} >= 0.5 THEN (4.0*{s}*{s} - 1.0)/3.0 "
            f"ELSE (1.0 - 4.0*(1.0-{s})*(1.0-{s}))/3.0 END)")


def _face_uv_xyz(face: str, u: str, v: str) -> tuple[str, str, str]:
    """Unnormalized cube xyz by face (cellmath.face_uv_to_xyz table)."""
    x = (f"(CASE {face} WHEN 0 THEN 1.0 WHEN 1 THEN -({u}) WHEN 2 THEN -({u}) "
         f"WHEN 3 THEN -1.0 WHEN 4 THEN ({v}) ELSE ({v}) END)")
    y = (f"(CASE {face} WHEN 0 THEN ({u}) WHEN 1 THEN 1.0 WHEN 2 THEN -({v}) "
         f"WHEN 3 THEN -({v}) WHEN 4 THEN -1.0 ELSE ({u}) END)")
    z = (f"(CASE {face} WHEN 0 THEN ({v}) WHEN 1 THEN ({v}) WHEN 2 THEN 1.0 "
         f"WHEN 3 THEN -({u}) WHEN 4 THEN -({u}) ELSE -1.0 END)")
    return x, y, z


def _acos_clip(dot: str) -> str:
    return f"acos(LEAST(GREATEST({dot}, -1.0), 1.0))"


def _xyz_of(lat: str, lng: str) -> tuple[str, str, str]:
    return (f"cos(radians({lat}))*cos(radians({lng}))",
            f"cos(radians({lat}))*sin(radians({lng}))",
            f"sin(radians({lat}))")


def _may_intersect(c: str, cx: str, cy: str, cz: str, crad: str) -> str:
    """Conservative cap-cell test (cellmath._cap_cell_test)
    for candidate struct `c` (fields lvl, id, face, i0, j0, ori):
    angle(cap_center, cell_center) <= cap_rad + circumangle + 1e-12.

    Five probes (center + 4 corners) are computed through a chain of
    list_transform stages acting as let-bindings, so each geometric
    sub-expression appears ONCE in the generated SQL instead of being
    textually substituted per use (keeps the statement tens of KB, not
    a megabyte)."""
    szf = f"CAST(1073741824::BIGINT // (1::BIGINT << {c}.lvl) AS DOUBLE)"
    # probe fractions: [center, corner00, corner10, corner11, corner01]
    probes = "[[0.5, 0.5], [0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0]]"
    st = (f"list_transform({probes}, pr -> "
          f"[(CAST({c}.i0 AS DOUBLE) + pr[1]*{szf}) / 1073741824.0, "
          f"(CAST({c}.j0 AS DOUBLE) + pr[2]*{szf}) / 1073741824.0])")
    uv = f"list_transform({st}, s -> [{_st_to_uv('s[1]')}, {_st_to_uv('s[2]')}])"
    xr, yr, zr = _face_uv_xyz(f"{c}.face", "w[1]", "w[2]")
    xyz = (f"list_transform({uv}, w -> "
           f"{{'x': {xr}, 'y': {yr}, 'z': {zr}}})")
    nxyz = (f"list_transform({xyz}, q -> {{"
            f"'x': q.x / sqrt(q.x*q.x + q.y*q.y + q.z*q.z), "
            f"'y': q.y / sqrt(q.x*q.x + q.y*q.y + q.z*q.z), "
            f"'z': q.z / sqrt(q.x*q.x + q.y*q.y + q.z*q.z)}})")
    ang0 = _acos_clip("({cx}*pl[1].x + {cy}*pl[1].y + {cz}*pl[1].z)").format(
        cx=cx, cy=cy, cz=cz
    )
    circ = ("list_max(list_transform(pl[2:5], p -> "
            + _acos_clip("(pl[1].x*p.x + pl[1].y*p.y + pl[1].z*p.z)")
            + "))")
    return (f"(list_transform([{nxyz}], pl -> "
            f"{ang0} <= {crad} + {circ} + 1e-12))[1]")


_FACE_SEED = ", ".join(
    "{'lvl': 0, 'id': %d::UBIGINT * %s + %s, "
    "'face': %d, 'i0': 0::UBIGINT, 'j0': 0::UBIGINT, 'ori': %d}"
    % (f, _P61, _P60, f, f % 2)
    for f in range(6)
)

_EMPTY_CAND = "[]::STRUCT(lvl INT, id UBIGINT, face INT, i0 UBIGINT, j0 UBIGINT, ori INT)[]"


def _face_uv_sql() -> tuple[str, str, str]:
    """(face, u, v) SQL over px/py/pz unit-vector columns -- the cube
    face selection + per-face (u, v) tables of cellmath.xyz_to_face_uv.
    ONE definition shared by the covering and point-encode generators so
    the projections cannot silently diverge."""
    axis = ("(CASE WHEN abs(px) >= abs(py) THEN (CASE WHEN abs(px) >= abs(pz) THEN 0 ELSE 2 END) "
            "ELSE (CASE WHEN abs(py) >= abs(pz) THEN 1 ELSE 2 END) END)")
    major = f"(CASE {axis} WHEN 0 THEN px WHEN 1 THEN py ELSE pz END)"
    face = f"(CASE WHEN {major} >= 0 THEN {axis} ELSE {axis} + 3 END)"
    u = ("(CASE face WHEN 0 THEN py/px WHEN 1 THEN -px/py WHEN 2 THEN -px/pz "
         "WHEN 3 THEN pz/px WHEN 4 THEN pz/py ELSE -py/pz END)")
    v = ("(CASE face WHEN 0 THEN pz/px WHEN 1 THEN pz/py WHEN 2 THEN -py/pz "
         "WHEN 3 THEN py/px WHEN 4 THEN -px/py ELSE -px/pz END)")
    return face, u, v


def _hilbert_step_sql() -> str:
    """Per-level Hilbert position bits of (i, j) at bit (k-1) under the
    current orientation -- the recursion step shared by both encoders."""
    hil_ij = ("CAST(2*((i // (1::UBIGINT << (k-1))) % 2) "
              "+ ((j // (1::UBIGINT << (k-1))) % 2) AS INT)")
    return f"CAST({IJ_TO_POS}[ori*4 + {hil_ij} + 1] AS INT)"


def covering_sql_ctes(values: str | None = None, source: str | None = None) -> str:
    """WITH-body (no leading WITH) computing `allcells(fid, cell, level)`
    -- the s2_covering of every feature in the vertex rows, replayed per
    the module docstring.  Vertex rows come either from `values` (rows
    `(fid, ftype, ring, k, n, x, y)`, the fixture path) or from `source`
    (an arbitrary SELECT yielding `fid, ftype, x, y` -- the corpus-scale
    path, e.g. rings derived from the events table).  Callers append
    their own final SELECT (token formatting etc.)."""
    if (values is None) == (source is None):
        raise ValueError("covering_sql_ctes: pass exactly one of values/source")
    xyzp = _xyz_of("y", "x")
    xyzr = _xyz_of("r.y", "r.x")
    face, u, v = _face_uv_sql()
    mi = _may_intersect("c", "cx", "cy", "cz", "crad")
    hil_pb = _hilbert_step_sql()
    if values is not None:
        head = f"""scv0(fid, ftype, ring, k, n, x, y) AS (VALUES
    {values}),
scv AS (SELECT fid, ftype, CAST(x AS DOUBLE) AS x, CAST(y AS DOUBLE) AS y FROM scv0),"""
    else:
        head = f"""scv AS ({source}),"""
    return f"""{head}
-- ==== point features: level-16 cell via the full Hilbert encode ====
pxyz AS (
  SELECT fid, {xyzp[0]} AS px, {xyzp[1]} AS py, {xyzp[2]} AS pz
  FROM scv WHERE ftype = 'point'
),
pfuv AS (SELECT fid, {face} AS face, px, py, pz FROM pxyz),
puv AS (SELECT fid, face, {u} AS fu, {v} AS fv FROM pfuv),
pij AS (
  SELECT fid, face,
    CAST(LEAST(GREATEST(CAST(floor({_uv_to_st('fu')} * 1073741824.0) AS BIGINT), 0), 1073741823) AS UBIGINT) AS i,
    CAST(LEAST(GREATEST(CAST(floor({_uv_to_st('fv')} * 1073741824.0) AS BIGINT), 0), 1073741823) AS UBIGINT) AS j
  FROM puv
),
henc(fid, face, i, j, k, ori, pos) AS (
  SELECT fid, face, i, j, 30, face % 2, 0::UBIGINT FROM pij
  UNION ALL
  SELECT fid, face, i, j, k - 1,
    xor(ori, {POS_TO_ORI}[{hil_pb} + 1]),
    pos * 4 + CAST({hil_pb} AS UBIGINT)
  FROM henc WHERE k > 0
),
pcells AS (
  -- leaf id = face<<61 | pos<<1 | 1, then the level-16 parent:
  -- (id // 2^29) * 2^29 + 2^28  ==  (id & ~(2^28-1)) | 2^28
  SELECT fid,
    (CAST(face AS UBIGINT) * {_P61} + pos * 2 + 1)
      // 536870912::UBIGINT * 536870912::UBIGINT + 268435456::UBIGINT AS cell,
    {MAX_INDEX_LEVEL} AS level
  FROM henc WHERE k = 0
),
-- ==== ring features: bounding cap + greedy budgeted refinement ====
rsum AS (
  SELECT fid, avg({xyzp[0]}) AS mx, avg({xyzp[1]}) AS my, avg({xyzp[2]}) AS mz
  FROM scv WHERE ftype <> 'point' GROUP BY fid
),
rnorm AS (
  SELECT fid, mx / sqrt(mx*mx + my*my + mz*mz) AS nx,
         my / sqrt(mx*mx + my*my + mz*mz) AS ny,
         mz / sqrt(mx*mx + my*my + mz*mz) AS nz
  FROM rsum
),
rang AS (
  SELECT r.fid,
    max({_acos_clip(f"(n.nx*{xyzr[0]} + n.ny*{xyzr[1]} + n.nz*{xyzr[2]})")}) AS ang
  FROM scv r JOIN rnorm n USING (fid) WHERE r.ftype <> 'point' GROUP BY r.fid
),
-- covering_ring's roundtrip: normalized centroid -> lat/lng degrees ->
-- unit xyz; cap_rad = (ang * R) / R replayed literally
rcap AS (
  SELECT a.fid,
    cos(radians(degrees(atan2(n.nz, sqrt(n.nx*n.nx + n.ny*n.ny))))) * cos(radians(degrees(atan2(n.ny, n.nx)))) AS cx,
    cos(radians(degrees(atan2(n.nz, sqrt(n.nx*n.nx + n.ny*n.ny))))) * sin(radians(degrees(atan2(n.ny, n.nx)))) AS cy,
    sin(radians(degrees(atan2(n.nz, sqrt(n.nx*n.nx + n.ny*n.ny))))) AS cz,
    (a.ang * 6371010.0) / 6371010.0 AS crad
  FROM rang a JOIN rnorm n USING (fid)
),
-- one kernel loop iteration per recursive step; `done` freezes the row
cover(fid, it, done, cx, cy, cz, crad, cand) AS (
  SELECT fid, 0, false, cx, cy, cz, crad,
         list_filter([{_FACE_SEED}], c -> {mi})
  FROM rcap
  UNION ALL
  SELECT fid, it + 1,
    CASE WHEN n_split = 0 THEN true
         WHEN len(cand) - 1 + len(kids) > {MAX_COVERING_CELLS} AND len(cand) > 1 THEN true
         ELSE len(nextcand) >= {MAX_COVERING_CELLS}
              AND len(list_filter(nextcand, c -> c.lvl < {MAX_INDEX_LEVEL})) = 0 END,
    cx, cy, cz, crad,
    CASE WHEN n_split = 0 THEN cand
         WHEN len(cand) - 1 + len(kids) > {MAX_COVERING_CELLS} AND len(cand) > 1 THEN cand
         ELSE nextcand END
  FROM (
    SELECT *,
      CASE WHEN n_split = 0 THEN cand
           ELSE list_concat(list_filter(cand, c -> c.id != pick.id), kids) END AS nextcand
    FROM (
      SELECT *,
        CASE WHEN n_split = 0 THEN {_EMPTY_CAND}
        ELSE list_filter(
          list_transform([0, 1, 2, 3], p -> {{
            'lvl': pick.lvl + 1,
            'id': pick.id - 3 * (1::UBIGINT << (58 - 2*pick.lvl)) + CAST(2*p AS UBIGINT) * (1::UBIGINT << (58 - 2*pick.lvl)),
            'face': pick.face,
            'i0': pick.i0 + CAST({POS_TO_IJ}[pick.ori*4 + p + 1] // 2 AS UBIGINT) * (1::UBIGINT << (29 - pick.lvl)),
            'j0': pick.j0 + CAST({POS_TO_IJ}[pick.ori*4 + p + 1] % 2 AS UBIGINT) * (1::UBIGINT << (29 - pick.lvl)),
            'ori': xor(pick.ori, {POS_TO_ORI}[p + 1])
          }}),
          c -> {mi}) END AS kids
      FROM (
        SELECT *,
          len(sp) AS n_split,
          (list_filter(sp, c -> c.lvl = minl AND c.id = list_min(list_transform(list_filter(sp, q -> q.lvl = minl), q -> q.id))))[1] AS pick
        FROM (
          SELECT fid, it, cx, cy, cz, crad, cand,
                 list_filter(cand, c -> c.lvl < {MAX_INDEX_LEVEL}) AS sp,
                 list_min(list_transform(list_filter(cand, c -> c.lvl < {MAX_INDEX_LEVEL}), c -> c.lvl)) AS minl
          FROM cover WHERE NOT done AND it < 200
        )
      )
    )
  )
),
rcells AS (
  SELECT fid, u.c.id AS cell, u.c.lvl AS level
  FROM (SELECT fid, cand FROM cover WHERE done) f, unnest(f.cand) AS u(c)
),
allcells AS (
  SELECT fid, cell, level FROM pcells UNION ALL SELECT fid, cell, level FROM rcells
)"""


# S2-style token of a UBIGINT `cell` column: 16 hex nibbles, trailing
# zeros stripped (cellmath.token)
TOKEN_SQL = "rtrim(lower(lpad(hex(cell), 16, '0')), '0')"


def point_encode_ctes(src: str = "encin", level: int = MAX_INDEX_LEVEL) -> str:
    """WITH-body fragment (no leading WITH, starts with a CTE name)
    encoding every row of CTE `src(pid, x, y)` (lng, lat degrees) to its
    level-`level` S2 cell: `enc16(pid, cell)` with `cell` the UBIGINT
    id.  The same per-level Hilbert recursion as covering_sql_ctes, over
    an arbitrary point source (events-scale inputs: n_rows x 30
    recursion, fine for an oracle)."""
    face, u, v = _face_uv_sql()
    xyz = _xyz_of("y", "x")
    hil_pb = _hilbert_step_sql()
    # level-`level` parent of the leaf id: clear below 2m, set bit m
    m = 1 << (2 * (30 - level))
    return f"""excyz AS (
  SELECT pid, {xyz[0]} AS px, {xyz[1]} AS py, {xyz[2]} AS pz FROM {src}
),
exfuv AS (SELECT pid, {face} AS face, px, py, pz FROM excyz),
exuv AS (SELECT pid, face, {u} AS fu, {v} AS fv FROM exfuv),
exij AS (
  SELECT pid, face,
    CAST(LEAST(GREATEST(CAST(floor({_uv_to_st('fu')} * 1073741824.0) AS BIGINT), 0), 1073741823) AS UBIGINT) AS i,
    CAST(LEAST(GREATEST(CAST(floor({_uv_to_st('fv')} * 1073741824.0) AS BIGINT), 0), 1073741823) AS UBIGINT) AS j
  FROM exuv
),
exhenc(pid, face, i, j, k, ori, pos) AS (
  SELECT pid, face, i, j, 30, face % 2, 0::UBIGINT FROM exij
  UNION ALL
  SELECT pid, face, i, j, k - 1,
    xor(ori, {POS_TO_ORI}[{hil_pb} + 1]),
    pos * 4 + CAST({hil_pb} AS UBIGINT)
  FROM exhenc WHERE k > 0
),
enc16 AS (
  SELECT pid,
    (CAST(face AS UBIGINT) * {_P61} + pos * 2 + 1)
      // {2 * m}::UBIGINT * {2 * m}::UBIGINT + {m}::UBIGINT AS cell
  FROM exhenc WHERE k = 0
)"""


# signed int64 view of a UBIGINT cell id (cellmath.id_to_signed: flip
# the top bit, order-preserving -- parquet/Spark have no uint64)
def signed_sql(cell: str) -> str:
    return f"CAST(CAST({cell} AS HUGEINT) - 9223372036854775808 AS BIGINT)"


def parent_sql(cell: str, level: int) -> str:
    """Ancestor at `level` of a UBIGINT leaf-marked id (cellmath.parent):
    (id & ~(m-1)) | m  ==  id // (2m) * (2m) + m, m = 2^(2*(30-level))."""
    m = 1 << (2 * (30 - level))
    return f"(({cell}) // {2 * m}::UBIGINT * {2 * m}::UBIGINT + {m}::UBIGINT)"
