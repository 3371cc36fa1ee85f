"""True-geometry H3-style icosahedral hex DGGS ("h3x").

Implements the REAL H3 construction from the published algorithm (Uber
H3 docs, "Cell indexing" / faceijk algorithm; Snyder gnomonic
projection): lat/lon -> unit xyz -> nearest icosahedron face -> gnomonic projection onto the
face's tangent plane -> aperture-7 hex lattice (Class II even res, Class
III odd res rotated by asin(sqrt(3/28))) -> integer ijk rounding ->
exact integer up-aperture-7 digit chain -> (base cell, digit path) packed
into an H3-layout 64-bit id (4-bit res | 7-bit base cell | 3-bit digits,
unused digits = 7, so parent truncation is the same bit operation as
H3's h3_to_parent).

Documented deltas vs the published library, and why:

1. BASE-CELL NUMBERING.  H3's 122-entry ``baseCellData`` table and its
   icosahedron orientation constants are *data*, not math — not
   derivable and not available in this offline sandbox (no h3 package,
   no network, no table in any local source; verified).  h3x uses a
   self-canonical deterministic equivalent: a north-pole-vertex
   icosahedron and base cells numbered by (lat desc, lon asc) of their
   centers.  Swapping in the published tables would be a constant-table
   change, not an algorithm change — so ids are structurally H3 but not
   bit-equal to Uber's.
2. PENTAGONS KEEP THEIR K CHILD.  Real H3 deletes the pentagon K
   subsequence (each pentagon has 6 children); h3x's per-face lattice
   assignment naturally partitions the sphere, so pentagons keep 7
   children (res-1 has 122*7 = 854 occupied cells, pinned by test).
   Rollup/truncation semantics are unaffected.
3. PENTAGON-EDGE RAGGEDNESS.  The five flat 60-degree face frames tile
   a vertex's 300 spherical degrees, so no 60-degree rotation aligns
   them exactly (the same deficit that motivates H3's deleted
   subsequence).  Cell boundaries within ~1 lattice unit of a pentagon
   vertex are therefore slightly ragged, and decode->encode roundtrip
   at pentagon overage is ~96-99.9% (resolution-dependent) instead of
   exact.  Hexagon-base-cell roundtrip is EXACT at every resolution
   (pinned by test); encode itself is always deterministic and total.

Scale shape: the per-row encode (:func:`h3x_cell_ids`) runs inside
enrich_fused.spatial_enrich's one Arrow UDF over (lat, lon) —
pure vectorized numpy, no shuffle, no driver involvement beyond the
500-ish-entry lookup tables baked into the closure.  Parent/rollup
derivation is pure JVM bit algebra on the id (:func:`h3x_parent_col`).
Adjacency: :func:`h3x_neighbors` steps one lattice unit in the cell's own
face frame and re-encodes — table-free cross-face resolution.

Reference parity: the reference's grid operator is cells.rs (reference
src/cell.rs equivalent — see ot_spark/cells.py); h3x is the north_star's
"H3 res-7/9" tiling axis.
"""

from __future__ import annotations

import functools

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .session import local_df

# ------------------------------------------------------------ icosahedron

_DEG = np.pi / 180.0


def _icosa_vertices() -> np.ndarray:
    """12 unit vertices: north pole, upper ring (lat atan(1/2), lons
    0,72..288), lower ring (lat -atan(1/2), lons 36..324), south pole."""
    top = np.array([0.0, 0.0, 1.0])
    zu = 1.0 / np.sqrt(5.0)
    ru = 2.0 / np.sqrt(5.0)
    upper = [
        np.array([ru * np.cos(72 * i * _DEG), ru * np.sin(72 * i * _DEG), zu])
        for i in range(5)
    ]
    lower = [
        np.array(
            [ru * np.cos((36 + 72 * i) * _DEG), ru * np.sin((36 + 72 * i) * _DEG), -zu]
        )
        for i in range(5)
    ]
    bottom = np.array([0.0, 0.0, -1.0])
    return np.array([top, *upper, *lower, bottom])


def _icosa_faces() -> np.ndarray:
    """20 faces as vertex-index triples; first vertex of each triple is the
    face's i-axis anchor (the res-0 lattice's +i direction points at it)."""
    f = []
    for i in range(5):
        f.append((0, 1 + i, 1 + (i + 1) % 5))  # top cap
    for i in range(5):
        f.append((1 + i, 6 + i, 1 + (i + 1) % 5))  # upper middle
    for i in range(5):
        f.append((6 + i, 6 + (i + 1) % 5, 1 + (i + 1) % 5))  # lower middle
    for i in range(5):
        f.append((11, 6 + (i + 1) % 5, 6 + i))  # bottom cap
    return np.array(f, dtype=np.int64)


@functools.cache
def _geometry():
    """Face centers + per-face tangent bases + lattice constants.

    RES0_U is the res-0 lattice unit in gnomonic (tangent-plane) length:
    chosen so the face's vertices sit at lattice distance exactly 2 from
    the face center — which also puts edge midpoints at lattice distance 1
    (gnomonic maps great circles to lines; by symmetry the spherical edge
    midpoint projects to the planar midpoint of the two vertex images),
    so adjacent faces' res-0 lattices agree on every shared-edge cell
    center.  This is the same alignment the published construction uses.
    """
    verts = _icosa_vertices()
    faces = _icosa_faces()
    centers = np.empty((20, 3))
    ex = np.empty((20, 3))
    ey = np.empty((20, 3))
    for k in range(20):
        c = verts[faces[k]].sum(axis=0)
        c /= np.linalg.norm(c)
        centers[k] = c
        a = verts[faces[k][0]] - (verts[faces[k][0]] @ c) * c  # anchor dir
        ex[k] = a / np.linalg.norm(a)
        ey[k] = np.cross(c, ex[k])
    # gnomonic distance center -> vertex (identical for every face/vertex)
    v0 = verts[faces[0][0]]
    cosd = float(centers[0] @ v0)
    tan_cv = float(np.sqrt(1.0 - cosd * cosd) / cosd)
    res0_u = tan_cv / 2.0
    ap7_rot = float(np.arctan2(np.sqrt(3.0), 5.0))  # asin(sqrt(3/28))
    return verts, faces, centers, ex, ey, res0_u, ap7_rot


SQRT7 = float(np.sqrt(7.0))
SQRT3 = float(np.sqrt(3.0))

# ------------------------------------------------- hex lattice arithmetic
#
# 2D lattice coords (i', j') with hex2d mapping x = i' - j'/2,
# y = j'*sqrt(3)/2 (neighbor centers at distance 1).  The aperture-7
# parent->child matrices for the two Class orientations, derived from the
# child-frame images of the parent axes ((2,-1) at -19.107 deg for the
# even-parent/odd-child step, (3,1) at +19.107 deg for odd-parent/
# even-child; the j-axis images follow by a 120-degree lattice rotation,
# [[0,-1],[1,-1]]); determinant 7, exact integer inverses for the
# up-chain (identical to the published _upAp7/_upAp7r formulas):
#   M_A = [[2,1],[-1,3]]   up_A = round([[3,-1],[1,2]] / 7)
#   M_B = [[3,-1],[1,2]]   up_B = round([[2,1],[-1,3]] / 7)
# The up-chain is EXACT: the 7 cosets of the aperture sublattice are the
# unit offsets, and every |M^-1 u| component is <= 3/7 < 1/2.

_DIGIT_OF = {  # (di', dj') unit offset -> H3 digit (CENTER,K,J,JK,I,IK,IJ)
    (0, 0): 0, (-1, -1): 1, (0, 1): 2, (-1, 0): 3,
    (1, 0): 4, (0, -1): 5, (1, 1): 6,
}
# flat LUT over (di+1)*3 + (dj+1); the two illegal offsets map to 0 but are
# rejected by the `bad` guard in _up_step before lookup
_DIGIT_LUT = np.zeros(9, dtype=np.int64)
for (_oi, _oj), _d in _DIGIT_OF.items():
    _DIGIT_LUT[(_oi + 1) * 3 + (_oj + 1)] = _d
_OFF_OF = {d: o for o, d in _DIGIT_OF.items()}
# ccw 60-degree axis cycle I -> IJ -> J -> JK -> K -> IK -> I
_CCW_CYCLE = [4, 6, 2, 3, 1, 5]
_POS_IN_CYCLE = {d: p for p, d in enumerate(_CCW_CYCLE)}


def _round_half_away(x: np.ndarray) -> np.ndarray:
    return np.copysign(np.floor(np.abs(x) + 0.5), x)


def _cube_round_2d(fi: np.ndarray, fj: np.ndarray):
    """Nearest lattice point in (i', j') axial coords via standard cube
    rounding (public Red Blob Games formulation), half-away ties so the
    SQL oracle (ROUND is half-away) matches bit-for-bit."""
    fk = -fi - fj
    ri, rj, rk = _round_half_away(fi), _round_half_away(fj), _round_half_away(fk)
    di, dj, dk = np.abs(ri - fi), np.abs(rj - fj), np.abs(rk - fk)
    fix_i = (di > dj) & (di > dk)
    fix_j = ~fix_i & (dj > dk)
    ri = np.where(fix_i, -rj - rk, ri)
    rj = np.where(fix_j, -ri - rk, rj)
    return ri.astype(np.int64), rj.astype(np.int64)


def _up_step(i: np.ndarray, j: np.ndarray, child_res: int):
    """Exact integer aperture-7 parent of lattice points at child_res,
    plus the digit (child position among the parent's 7 children)."""
    if child_res % 2 == 1:  # odd child, even parent: variant A
        pi = _round_half_away((3 * i - j) / 7.0).astype(np.int64)
        pj = _round_half_away((i + 2 * j) / 7.0).astype(np.int64)
        ci = 2 * pi + pj
        cj = -pi + 3 * pj
    else:  # even child, odd parent: variant B
        pi = _round_half_away((2 * i + j) / 7.0).astype(np.int64)
        pj = _round_half_away((-i + 3 * j) / 7.0).astype(np.int64)
        ci = 3 * pi - pj
        cj = pi + 2 * pj
    di, dj = i - ci, j - cj
    bad = (np.abs(di) > 1) | (np.abs(dj) > 1) | (di * dj < 0)
    if bad.any():  # rounding drift beyond the 7-child neighborhood
        raise AssertionError("up-aperture-7 offset outside unit hex")
    # one fancy-index instead of seven np.where passes: offsets are in
    # {-1,0,1}^2, so (di+1)*3 + (dj+1) indexes a 9-entry LUT
    digit = _DIGIT_LUT[(di + 1) * 3 + (dj + 1)]
    return pi, pj, digit


def _rotate_digits(digits: np.ndarray, rot: np.ndarray) -> np.ndarray:
    """Rotate every non-center digit `rot` ccw 60-degree steps through the
    axis cycle (vectorized; rot broadcast per row)."""
    pos = np.array([_POS_IN_CYCLE.get(d, -1) for d in range(8)])
    cyc = np.array(_CCW_CYCLE)
    p = pos[digits]
    rotated = cyc[(p + rot[:, None]) % 6]
    return np.where(digits == 0, 0, rotated)


# ------------------------------------------------ hex2d <-> sphere helpers


def _latlon_to_xyz(lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    la, lo = lat * _DEG, lon * _DEG
    cl = np.cos(la)
    return np.stack([cl * np.cos(lo), cl * np.sin(lo), np.sin(la)], axis=1)


def _best_face(xyz: np.ndarray) -> np.ndarray:
    """Nearest face by dot product, rounded to 12 dp so numpy and the SQL
    oracle take the same branch on ties/ULP wiggle; ties -> lowest index
    (np.argmax picks the first maximum).

    Implementation note: argmax over ``rint(dots * 1e12)`` — np.round(x,
    12) is rint(x*1e12)/1e12 (numpy's scaled-rint), and dividing every
    entry by the same positive constant preserves both order and
    equality, so the argmax (and its tie-breaks) is IDENTICAL while the
    (n, 20) division pass — the encode's hottest line — disappears."""
    _, _, centers, _, _, _, _ = _geometry()
    dots = np.rint((xyz @ centers.T) * 1e12)
    return np.argmax(dots, axis=1)


def _gnomonic_fwd(xyz: np.ndarray, face: np.ndarray):
    _, _, centers, ex, ey, _, _ = _geometry()
    fc = centers[face]
    d = np.sum(xyz * fc, axis=1)
    p = xyz / d[:, None] - fc
    return np.sum(p * ex[face], axis=1), np.sum(p * ey[face], axis=1)


def _gnomonic_inv(face: int, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    _, _, centers, ex, ey, _, _ = _geometry()
    p = centers[face][None, :] + x[:, None] * ex[face] + y[:, None] * ey[face]
    return p / np.linalg.norm(p, axis=1, keepdims=True)


def _hex2d_at_res(x: np.ndarray, y: np.ndarray, res: int):
    """Tangent-plane coords -> res-`res` lattice frame (Class III odd
    resolutions rotated -AP7_ROT), rounded to 1e-9 before integer
    rounding for engine portability."""
    _, _, _, _, _, res0_u, ap7 = _geometry()
    s = SQRT7**res / res0_u
    hx, hy = x * s, y * s
    if res % 2 == 1:
        c, si = np.cos(ap7), np.sin(ap7)  # rotate point by -ap7
        hx, hy = hx * c + hy * si, -hx * si + hy * c
    return np.round(hx, 9), np.round(hy, 9)


def _lattice_to_tangent(i: np.ndarray, j: np.ndarray, res: int):
    """Integer lattice point at `res` -> tangent-plane coords (exact
    inverse of _hex2d_at_res up to the documented 1e-9 rounding)."""
    _, _, _, _, _, res0_u, ap7 = _geometry()
    hx = i - 0.5 * j
    hy = (SQRT3 / 2.0) * j
    if res % 2 == 1:
        c, si = np.cos(ap7), np.sin(ap7)  # rotate point by +ap7
        hx, hy = hx * c - hy * si, hx * si + hy * c
    s = res0_u / SQRT7**res
    return hx * s, hy * s


def _axial_ij(hx: np.ndarray, hy: np.ndarray):
    fj = hy / (SQRT3 / 2.0)
    fi = hx + 0.5 * fj
    return _cube_round_2d(fi, fj)


# ------------------------------------------------------- base-cell tables


def _center_key(xyz: np.ndarray) -> tuple:
    return tuple(np.round(xyz, 9))


@functools.cache
def _base_cells():
    """Derive the 122 res-0 cells and the (face, i', j') -> (base cell,
    ccw digit rotation) lookup covering every lattice point reachable by
    rounding + up-chain drift from any face (hex2d radius <= 3.3).

    Numbering is canonical-deterministic: cells sorted by (lat desc,
    lon asc) of their centers.  Rotations: hexagon entries measure the
    generating face's i-axis azimuth in the home face's frame (an exact
    multiple of 60 degrees up to gnomonic bend, asserted < 26 deg off);
    pentagon entries use the cyclic rule (home face 0, +1 per face ccw
    around the vertex) because the five flat 60-degree frames tile the
    vertex's 360 spherical degrees with a deficit — the same reason real
    H3 deletes the pentagon K-subsequence.
    """
    verts, faces, centers, ex, ey, res0_u, ap7 = _geometry()

    # candidate lattice points per face: only those REACHABLE by rounding.
    # Every query point sits inside its face's planar triangle (gnomonic
    # maps the spherical triangle boundary to the hull of the three vertex
    # images, at lattice distance 2, azimuths 0/±120); the finest-res
    # rounding moves it <= 0.578 res-r units and the up-chain is exact per
    # level (the 7 cosets of the aperture sublattice are the unit offsets,
    # and all |M^-1 u| components are <= 3/7 < 1/2), so the res-0 outcome
    # is within sum_r 7^(-r/2) ~= 0.61 lattice units of the point.  0.7
    # margin; everything farther can never be produced.
    tri = np.array([[2.0, 0.0], [-1.0, SQRT3], [-1.0, -SQRT3]])

    def _tri_dist(px: float, py: float) -> float:
        best = np.inf
        for a in range(3):
            p1, p2 = tri[a], tri[(a + 1) % 3]
            seg = p2 - p1
            t = np.clip(((px - p1[0]) * seg[0] + (py - p1[1]) * seg[1])
                        / (seg @ seg), 0.0, 1.0)
            cx, cy = p1 + t * seg
            best = min(best, np.hypot(px - cx, py - cy))
        cross = all(
            (tri[(a + 1) % 3][0] - tri[a][0]) * (py - tri[a][1])
            - (tri[(a + 1) % 3][1] - tri[a][1]) * (px - tri[a][0]) >= 0
            for a in range(3)
        )
        return 0.0 if cross else best

    cand = []
    rng = range(-4, 5)
    for fi_ in rng:
        for fj_ in rng:
            hx = fi_ - 0.5 * fj_
            hy = (SQRT3 / 2.0) * fj_
            if _tri_dist(hx, hy) <= 0.7:
                cand.append((fi_, fj_))
    cand = np.array(cand, dtype=np.int64)
    n_c = len(cand)

    # sphere position of every (face, candidate)
    sph = np.empty((20, n_c, 3))
    for f in range(20):
        hx = cand[:, 0] - 0.5 * cand[:, 1]
        hy = (SQRT3 / 2.0) * cand[:, 1]
        sph[f] = _gnomonic_inv(f, hx * res0_u, hy * res0_u)

    # canonical centers: home candidates only (their own face is nearest)
    centers_list: list[tuple] = []
    center_info: dict[tuple, dict] = {}
    for f in range(20):
        dots = np.round(sph[f] @ centers.T, 9)
        best = dots.max(axis=1)
        near = dots >= best[:, None] - 1e-9
        home_face = near.argmax(axis=1)  # lowest tied index
        n_near = near.sum(axis=1)
        for c in range(n_c):
            if home_face[c] != f:
                continue
            key = _center_key(sph[f][c])
            if key not in center_info:
                centers_list.append(key)
                center_info[key] = {
                    "face": f,
                    "ij": (int(cand[c, 0]), int(cand[c, 1])),
                    "pent": int(n_near[c]) == 5,
                    "xyz": sph[f][c].copy(),
                }
    assert len(centers_list) == 122, f"expected 122 res-0 cells, got {len(centers_list)}"
    n_pent = sum(center_info[k]["pent"] for k in centers_list)
    assert n_pent == 12, f"expected 12 pentagons, got {n_pent}"

    # canonical numbering: lat desc, lon asc of center
    def _sort_key(key):
        x, y, z = center_info[key]["xyz"]
        return (-round(float(np.arcsin(np.clip(z, -1, 1))), 9),
                round(float(np.arctan2(y, x)), 9))

    ordered = sorted(centers_list, key=_sort_key)
    bc_of_key = {k: bc for bc, k in enumerate(ordered)}
    bc_home = []  # bc -> (face, i', j', pent)
    for k in ordered:
        inf = center_info[k]
        bc_home.append((inf["face"], inf["ij"][0], inf["ij"][1], inf["pent"]))

    # pentagon cyclic face order (home face first, ccw around the vertex)
    pent_rot: dict[tuple[int, int], int] = {}  # (bc, face) -> rot
    for bc, (hf, hi, hj, pent) in enumerate(bc_home):
        if not pent:
            continue
        vx = center_info[ordered[bc]]["xyz"]
        near_faces = [
            f for f in range(20)
            if np.round(float(vx @ centers[f]), 9)
            >= np.round(float(vx @ centers[hf]), 9) - 1e-9
        ]
        # order the 5 faces ccw by azimuth of face center around the vertex
        tz = vx
        tx = centers[hf] - (centers[hf] @ tz) * tz
        tx /= np.linalg.norm(tx)
        ty = np.cross(tz, tx)
        az = {
            f: float(np.arctan2(centers[f] @ ty, centers[f] @ tx)) % (2 * np.pi)
            for f in near_faces
        }
        for rot, f in enumerate(sorted(near_faces, key=lambda f: az[f])):
            pent_rot[(bc, f)] = rot
        assert len(near_faces) == 5

    def _cell_of(f: int, i: int, j: int) -> int | None:
        """Canonical cell id for lattice point (i', j') on face f's res-0
        grid: exact center-key match, else re-round the sphere point on
        its own nearest face (the overage rule)."""
        hx = np.array([(i - 0.5 * j) * res0_u])
        hy = np.array([(SQRT3 / 2.0) * j * res0_u])
        s = _gnomonic_inv(f, hx, hy)[0]
        key = _center_key(s)
        if key in bc_of_key:
            return bc_of_key[key]
        g = int(_best_face(s[None, :])[0])
        gx, gy = _gnomonic_fwd(s[None, :], np.array([g]))
        gi, gj = _axial_ij(np.round(gx / res0_u, 9), np.round(gy / res0_u, 9))
        gkey = _center_key(_gnomonic_inv(
            g, np.array([(gi[0] - 0.5 * gj[0]) * res0_u]),
            np.array([(SQRT3 / 2.0) * gj[0] * res0_u]))[0])
        return bc_of_key.get(gkey)

    # unit offsets in ccw digit-cycle order (I, IJ, J, JK, K, IK)
    cyc_offs = [_OFF_OF[d] for d in _CCW_CYCLE]

    # full (face, i', j') -> (bc, rot) table.  Rotations are derived
    # COMBINATORIALLY (like the published faceIjkBaseCells constants, not
    # by measuring bent gnomonic angles): k is the ccw step count whose
    # mapping of this entry's six neighbor cells onto the home point's six
    # neighbor cells agrees best — exact on edges, and deterministic where
    # the gnomonic bend near vertices leaves no perfect k.
    table: dict[tuple[int, int, int], tuple[int, int]] = {}
    for f in range(20):
        for c in range(n_c):
            bc = _cell_of(f, int(cand[c, 0]), int(cand[c, 1]))
            if bc is None:
                continue  # fringe beyond any real cell; unreachable
            hf, hi, hj, pent = bc_home[bc]
            if f == hf and (int(cand[c, 0]), int(cand[c, 1])) == (hi, hj):
                rot = 0
            else:
                # Pentagons use the same rule: 4 of their 6 neighbor slots
                # resolve (the two pointing past the vertex are fringe) —
                # still enough to pin k, and it interlocks the pentagon's
                # digit sectors with the surrounding hexagon assignment.
                nb_f = [
                    _cell_of(f, int(cand[c, 0]) + oi, int(cand[c, 1]) + oj)
                    for oi, oj in cyc_offs
                ]
                nb_h = [_cell_of(hf, hi + oi, hj + oj) for oi, oj in cyc_offs]
                scores = [
                    sum(
                        1 for p in range(6)
                        if nb_f[p] is not None and nb_f[p] == nb_h[(p + k) % 6]
                    )
                    for k in range(6)
                ]
                # Hexagon entries: >=4 of 6 neighbors must agree — exact on
                # edges, still decisive under gnomonic bend near vertices.
                # Pentagon entries CANNOT match perfectly: five 60-degree
                # flat frames tile the vertex's 300 spherical degrees, so
                # no k maps all neighbors (the same 72-vs-60-degree deficit
                # that makes real H3 delete the pentagon K subsequence).
                # Take the deterministic best k (argmax = lowest tied k)
                # and document the pentagon raggedness (module docstring).
                rot = int(np.argmax(scores))
                if not pent:
                    assert scores[rot] >= 4, (f, tuple(cand[c]), bc, scores)
            table[(f, int(cand[c, 0]), int(cand[c, 1]))] = (bc, rot)
    return bc_home, table


def _pack_table(table):
    off = 5
    size = 11
    bc_arr = np.full((20, size, size), -1, dtype=np.int64)
    rot_arr = np.zeros((20, size, size), dtype=np.int64)
    for (f, i, j), (bc, rot) in table.items():
        bc_arr[f, i + off, j + off] = bc
        rot_arr[f, i + off, j + off] = rot
    return bc_arr, rot_arr, off


@functools.cache
def _table_arrays():
    """The lookup table as dense numpy arrays for vectorized access:
    indexed by (face, i'+OFF, j'+OFF); plus the per-base-cell candidate
    slot list used by the decode-side overage resolution."""
    bc_home, table = _base_cells()
    bc_arr, rot_arr, off = _pack_table(table)
    home_face = np.array([h[0] for h in bc_home], dtype=np.int64)
    home_i = np.array([h[1] for h in bc_home], dtype=np.int64)
    home_j = np.array([h[2] for h in bc_home], dtype=np.int64)
    pent = np.array([h[3] for h in bc_home], dtype=bool)
    cands: dict[int, list[tuple[int, int, int, int]]] = {b: [] for b in range(122)}
    for (f, i, j), (bc, rot) in sorted(table.items()):
        cands[bc].append((f, i, j, rot))
    return bc_arr, rot_arr, off, home_face, home_i, home_j, pent, cands


# ---------------------------------------------------------------- id codec

_RES_SHIFT = 52
_BC_SHIFT = 45


def _encode_core(
    lat: np.ndarray, lon: np.ndarray, res: int, bc_arr, rot_arr, off
) -> np.ndarray:
    xyz = _latlon_to_xyz(lat, lon)
    face = _best_face(xyz)
    x, y = _gnomonic_fwd(xyz, face)
    hx, hy = _hex2d_at_res(x, y, res)
    i, j = _axial_ij(hx, hy)
    digits = np.zeros((len(lat), res), dtype=np.int64)
    for rr in range(res, 0, -1):
        i, j, d = _up_step(i, j, rr)
        digits[:, rr - 1] = d
    bc = bc_arr[face, i + off, j + off]
    if (bc < 0).any():
        raise AssertionError("res-0 lattice point outside base-cell table")
    rot = rot_arr[face, i + off, j + off]
    if res:
        digits = _rotate_digits(digits, rot)
    # pack all digit triplets in ONE integer matmul (exact in int64) and
    # fold the constant 7-fill for unused resolutions into one literal
    fill = np.int64((1 << (3 * (15 - res))) - 1)
    ids = (np.int64(res) << _RES_SHIFT) | (bc << _BC_SHIFT) | fill
    if res:
        weights = np.array(
            [1 << (3 * (15 - rr)) for rr in range(1, res + 1)], dtype=np.int64
        )
        ids = ids | (digits @ weights)
    return ids


def h3x_cell_ids(lat: np.ndarray, lon: np.ndarray, res: int) -> np.ndarray:
    """Vectorized geo -> h3x id at `res` (0..15)."""
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    bc_arr, rot_arr, off, *_ = _table_arrays()
    return _encode_core(lat, lon, res, bc_arr, rot_arr, off)


def h3x_parent(ids: np.ndarray, parent_res: int) -> np.ndarray:
    """Truncate to parent_res — identical bit operation to H3's
    h3_to_parent: fill finer digits with 7, rewrite the res field."""
    ids = np.asarray(ids, dtype=np.int64)
    low = (np.int64(1) << np.int64(3 * (15 - parent_res))) - 1
    return (
        (ids | low) & ~(np.int64(15) << _RES_SHIFT)
    ) | (np.int64(parent_res) << _RES_SHIFT)


def h3x_parent_col(ids, parent_res: int):
    """JVM Column twin of :func:`h3x_parent` — parent truncation is pure
    bit algebra, so coarser resolutions never need to cross the Arrow
    boundary: encode the finest resolution in the UDF, derive parents
    with this expression (null-safe: bit ops on NULL stay NULL)."""
    from pyspark.sql import functions as F

    low = (1 << (3 * (15 - parent_res))) - 1
    res_mask = 15 << _RES_SHIFT
    return (
        ids.bitwiseOR(F.lit(low).cast("long"))
        .bitwiseAND(F.lit(~res_mask).cast("long"))
        .bitwiseOR(F.lit(parent_res << _RES_SHIFT).cast("long"))
    )


def h3x_res(ids: np.ndarray) -> np.ndarray:
    return (np.asarray(ids, dtype=np.int64) >> _RES_SHIFT) & 15


def h3x_base_cell(ids: np.ndarray) -> np.ndarray:
    return (np.asarray(ids, dtype=np.int64) >> _BC_SHIFT) & 127


def _down_from(i0, j0, digits, res):
    """Down-chain: res-0 slot (i0, j0) broadcast + digit path -> res-`res`
    lattice point (exact inverse of the encode up-chain)."""
    n = digits.shape[0]  # digits is (rows, res); rows survives res == 0
    i = np.broadcast_to(np.asarray(i0, dtype=np.int64), (n,)).copy()
    j = np.broadcast_to(np.asarray(j0, dtype=np.int64), (n,)).copy()
    off_i = np.array([_OFF_OF.get(d, (0, 0))[0] for d in range(8)])
    off_j = np.array([_OFF_OF.get(d, (0, 0))[1] for d in range(8)])
    for rr in range(1, res + 1):
        if rr % 2 == 1:
            i, j = 2 * i + j, -i + 3 * j
        else:
            i, j = 3 * i - j, i + 2 * j
        d = digits[:, rr - 1]
        i, j = i + off_i[d], j + off_j[d]
    return i, j


def _tri_inside(px: np.ndarray, py: np.ndarray) -> np.ndarray:
    """Point inside the face's planar triangle hull{(2,0),(-1,±sqrt3)} in
    res-0 hex2d units (ccw cross-product test, closed with tolerance)."""
    tol = 1e-9
    tri = [(2.0, 0.0), (-1.0, SQRT3), (-1.0, -SQRT3)]
    ok = np.ones(len(px), dtype=bool)
    for a in range(3):
        x1, y1 = tri[a]
        x2, y2 = tri[(a + 1) % 3]
        ok &= (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1) >= -tol
    return ok


def h3x_cell_center(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Cell id -> center lat/lon (degrees) with DECODE-SIDE OVERAGE
    RESOLUTION (the published library's _adjustOverageClassII equivalent,
    done by exact table inversion instead of per-edge remap matrices):
    for each (face, slot, rot) table entry of the base cell, un-rotate the
    digit path, run the exact integer down-chain from that slot, and keep
    the lowest-index face whose planar triangle contains the resulting
    position — i.e. the face whose lattice actually produced this id on
    the encode side.  Computing centers in the home face alone would
    misplace every cross-edge cell by the gnomonic frame offset."""
    ids = np.asarray(ids, dtype=np.int64)
    if not len(ids):
        return np.empty(0), np.empty(0)
    res_all = h3x_res(ids)
    res = int(res_all[0])
    if not (res_all == res).all():
        # same guard as h3x_neighbors: the digit slicing below is keyed to
        # ONE depth — a mixed-resolution array would silently mis-decode
        raise ValueError("h3x_cell_center requires uniform resolution")
    bc = h3x_base_cell(ids)
    digits = np.stack(
        [(ids >> np.int64(3 * (15 - rr))) & 7 for rr in range(1, res + 1)], axis=1
    ) if res else np.zeros((len(ids), 0), dtype=np.int64)
    *_, res0_u, _ap7 = _geometry()
    _, _, _, _, _, _, _, cands = _table_arrays()
    lat = np.full(len(ids), np.nan)
    lon = np.full(len(ids), np.nan)
    done = np.zeros(len(ids), dtype=bool)
    for b in np.unique(bc):
        m_b = bc == b
        for f, i0, j0, rot in cands[int(b)]:
            m = m_b & ~done
            if not m.any():
                break
            d_un = _rotate_digits(digits[m], np.full(m.sum(), (6 - rot) % 6)) \
                if res else digits[m]
            i, j = _down_from(i0, j0, d_un, res)
            tx, ty = _lattice_to_tangent(i, j, res)
            inside = _tri_inside(tx / res0_u, ty / res0_u)
            if not inside.any():
                continue
            sel = np.flatnonzero(m)[inside]
            xyz = _gnomonic_inv(f, tx[inside], ty[inside])
            lat[sel] = np.degrees(np.arcsin(np.clip(xyz[:, 2], -1, 1)))
            lon[sel] = np.degrees(np.arctan2(xyz[:, 1], xyz[:, 0]))
            done[sel] = True
        if (m_b & ~done).any():
            # numeric fringe: no candidate face claims it; fall back to the
            # first candidate (deterministic) rather than failing
            m = m_b & ~done
            f, i0, j0, rot = cands[int(b)][0]
            d_un = _rotate_digits(digits[m], np.full(m.sum(), (6 - rot) % 6)) \
                if res else digits[m]
            i, j = _down_from(i0, j0, d_un, res)
            tx, ty = _lattice_to_tangent(i, j, res)
            xyz = _gnomonic_inv(f, tx, ty)
            lat[m] = np.degrees(np.arcsin(np.clip(xyz[:, 2], -1, 1)))
            lon[m] = np.degrees(np.arctan2(xyz[:, 1], xyz[:, 0]))
            done[m] = True
    return lat, lon


def h3x_neighbors(ids: np.ndarray) -> np.ndarray:
    """(n, 6) adjacent cell ids, ccw digit-cycle order (I, IJ, J, JK, K,
    IK).  Shape: decode the center, step one lattice unit in the cell's
    own face frame, re-encode — the encoder's total sphere->cell map
    resolves cross-face neighbors for free (the published library instead
    carries per-edge remap tables; same reachability, table-free).
    Pentagons (and their ragged fringe, module-docstring delta #3) can
    repeat a neighbor across slots — callers that need the SET of
    neighbors dedup.  All ids must share one resolution."""
    ids = np.asarray(ids, dtype=np.int64)
    if not len(ids):
        return np.empty((0, 6), dtype=np.int64)
    res_all = h3x_res(ids)
    res = int(res_all[0])
    if not (res_all == res).all():
        raise ValueError("h3x_neighbors requires uniform resolution")
    clat, clon = h3x_cell_center(ids)
    xyz = _latlon_to_xyz(clat, clon)
    face = _best_face(xyz)
    x, y = _gnomonic_fwd(xyz, face)
    i, j = _axial_ij(*_hex2d_at_res(x, y, res))
    _, _, centers, ex, ey, _, _ = _geometry()
    out = np.empty((len(ids), 6), dtype=np.int64)
    for p, d in enumerate(_CCW_CYCLE):
        oi, oj = _OFF_OF[d]
        tx, ty = _lattice_to_tangent(i + oi, j + oj, res)
        n = centers[face] + tx[:, None] * ex[face] + ty[:, None] * ey[face]
        n /= np.linalg.norm(n, axis=1, keepdims=True)
        nlat = np.degrees(np.arcsin(np.clip(n[:, 2], -1, 1)))
        nlon = np.degrees(np.arctan2(n[:, 1], n[:, 0]))
        out[:, p] = h3x_cell_ids(nlat, nlon, res)
    return out


def oracle_constants(res: int) -> dict:
    """Everything a SQL engine needs to replay the encode at ``res``
    bit-for-bit: the exact scalar doubles the numpy path uses (embedded via
    repr — decimal->binary parse is correctly rounded, so the literals
    reconstruct the same doubles), the 20-face frame table, and the full
    (face, i', j') -> (base cell, rotation) lookup."""
    verts, faces, centers, ex, ey, res0_u, ap7 = _geometry()
    _, table = _base_cells()
    return {
        "deg": _DEG,
        "scale": SQRT7**res / res0_u,  # the exact scalar _hex2d_at_res uses
        "rot_c": float(np.cos(ap7)),
        "rot_s": float(np.sin(ap7)),
        "half_sqrt3": SQRT3 / 2.0,
        "faces": [
            (
                f,
                *(float(v) for v in centers[f]),
                *(float(v) for v in ex[f]),
                *(float(v) for v in ey[f]),
            )
            for f in range(20)
        ],
        "table": [
            (f, i, j, bc, rot) for (f, i, j), (bc, rot) in sorted(table.items())
        ],
    }


# ------------------------------------------------- k-ring raster kNN (h3x)
# North-star operator on TRUE-GEOMETRY H3: nearest raster tile via H3
# k-ring expansion (BASELINE.json "kNN enrichment (nearest elevation/
# raster tile via H3 k-ring expansion)").


def h3x_cell_fij(ids: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(face, i, j) axial lattice coordinates of each cell at its own
    resolution — the encode-side intermediate the SQL oracle also
    computes.  On a single icosahedron face the H3 grid distance between
    two cells is the closed-form axial hex distance of these (i, j)."""
    clat, clon = h3x_cell_center(ids)
    xyz = _latlon_to_xyz(clat, clon)
    face = _best_face(xyz)
    x, y = _gnomonic_fwd(xyz, face)
    i, j = _axial_ij(*_hex2d_at_res(x, y, res))
    return face, i, j


def h3x_polyfill_bbox(
    lon0: float, lat0: float, lon1: float, lat1: float, res: int
) -> np.ndarray:
    """All res-``res`` cells whose CENTER lies in the closed lon/lat bbox,
    by flood fill from the bbox-center cell over :func:`h3x_neighbors`.
    The center-in-bbox cell set of a convex bbox much larger than a cell
    is connected, so flooding through inside-cells reaches all of them.
    Driver-side enumeration for dimension-scale regions (raster tile
    bboxes), not a corpus operator."""
    def inside(cells: np.ndarray) -> np.ndarray:
        la, lo = h3x_cell_center(cells)
        return (lo >= lon0) & (lo <= lon1) & (la >= lat0) & (la <= lat1)

    seed = h3x_cell_ids(
        np.array([(lat0 + lat1) / 2.0]), np.array([(lon0 + lon1) / 2.0]), res
    )
    seen = {int(seed[0])}
    kept: list[int] = []
    frontier = seed if inside(seed)[0] else np.empty(0, dtype=np.int64)
    if len(frontier):
        kept.append(int(seed[0]))
    else:  # degenerate bbox smaller than one cell: probe the seed's ring
        ring = np.unique(h3x_neighbors(seed))
        frontier = ring[inside(ring)]
        kept.extend(int(c) for c in frontier)
        seen.update(int(c) for c in ring)
    while len(frontier):
        nxt = np.unique(h3x_neighbors(frontier))
        fresh = np.array(
            [c for c in nxt if int(c) not in seen], dtype=np.int64
        )
        seen.update(int(c) for c in fresh)
        if not len(fresh):
            break
        ok = inside(fresh)
        frontier = fresh[ok]
        kept.extend(int(c) for c in frontier)
    return np.array(sorted(kept), dtype=np.int64)


# the tile fields the kNN coverage reads, as ``RasterIndex.routing()`` has them
_ROUTE_FIELDS = (
    "raster_id", "min_lon", "min_lat", "max_lon", "max_lat", "pixel_w", "pixel_h",
)
# degrees each tile bbox is padded by before the kNN coverage polyfill
KNN_PAD_DEG = 0.25


def knn_raster_coverage(
    routing: list[dict], res: int, pad_deg: float
) -> dict[int, tuple[float, int, str]]:
    """cell id -> (pixel area, finest-first order, raster id) for every
    cell whose center lies in a tile bbox padded by ``pad_deg``; ties
    across tiles keep the finest (min pixel area, then routing order) —
    the same tie-break the raster router uses (raster.py:100-117).
    ``routing`` is a ``RasterIndex.routing()`` table."""
    coverage: dict[int, tuple[float, int, str]] = {}
    for order, t in enumerate(routing):  # finest-first
        cells = h3x_polyfill_bbox(
            t["min_lon"] - pad_deg, t["min_lat"] - pad_deg,
            t["max_lon"] + pad_deg, t["max_lat"] + pad_deg, res,
        )
        pix = t["pixel_w"] * t["pixel_h"]
        for c in cells:
            cur = coverage.get(int(c))
            if cur is None or (pix, order) < cur[:2]:
                coverage[int(c)] = (pix, order, t["raster_id"])
    return coverage


def knn_nearest_raster_h3x(
    df: DataFrame, raster_index, res: int, max_k: int
) -> DataFrame:
    """kNN enrichment on true-geometry H3 — the Spark-first shape: the
    ring walk happens ONCE on the driver (a multi-source BFS dilating the
    covered-cell set by ``max_k`` rings, dimension-scale), and the corpus
    side is a single h3x encode UDF followed by a JVM BROADCAST HASH JOIN
    on the cell id.  No per-row or per-cell Python in the hot path — at
    100 TB the enrichment is a map-side broadcast join Catalyst fully
    owns (vs the first-draft per-distinct-cell executor BFS, which put a
    Python graph walk on every task).

    Semantics (identical to a forward ring walk, adjacency being
    symmetric away from pentagons): each cell within grid distance
    ``max_k`` of coverage maps to (min distance k, then min (pixel area,
    routing order) among covered cells at that distance).  Adds
    ``knn_raster_id`` and ``knn_k`` (NULL when nothing within
    ``max_k``)."""
    routing = tuple(tuple(t[f] for f in _ROUTE_FIELDS) for t in raster_index.routing())
    answer = _cell_map(routing, res, max_k)
    map_df = local_df(
        df.sparkSession,
        [(cell, k, rid) for cell, (k, _pix, _ord, rid) in sorted(answer.items())],
        "__knn_cell long, knn_k int, knn_raster_id string",
    )
    from .enrich_fused import spatial_enrich  # enrich_fused imports h3x

    enc = spatial_enrich(
        df, None, s2_level=None, h3_resolutions=(res,),
    ).withColumnRenamed(f"h3_{res}", "__knn_cell")
    return enc.join(F.broadcast(map_df), "__knn_cell", "left").drop("__knn_cell")


@functools.cache
def _cell_map(routing: tuple, res: int, max_k: int) -> dict:
    """``knn_raster_cell_map`` memoized per (routing table, res, max_k):
    the BFS + polyfill costs ~1 s for a few thousand cells, and a gate or
    bench run calls the query repeatedly with the same fixture index."""
    tiles = [dict(zip(_ROUTE_FIELDS, t)) for t in routing]
    return knn_raster_cell_map(tiles, res, max_k, KNN_PAD_DEG)


def knn_raster_cell_map(
    routing: list[dict], res: int, max_k: int, pad_deg: float
) -> dict[int, tuple[int, float, int, str]]:
    """cell id -> (k, pixel area, order, raster id) for every cell within
    grid distance ``max_k`` of the covered set, by LEVEL-SYNCHRONOUS
    multi-source BFS over :func:`h3x_neighbors`: level k assigns exactly
    the cells at min-distance k (unassigned after level k-1 means
    distance >= k; reachable via a level-(k-1) cell means <= k), and
    taking the min (pixel, order) label among all arrivals at that level
    reproduces the forward walk's in-ring tie-break."""
    coverage = knn_raster_coverage(routing, res, pad_deg)
    answer: dict[int, tuple[int, float, int, str]] = {
        cell: (0, *lab) for cell, lab in coverage.items()
    }
    frontier: dict[int, tuple[float, int, str]] = dict(coverage)
    for k in range(1, max_k + 1):
        cells = np.array(sorted(frontier), dtype=np.int64)
        nbrs = h3x_neighbors(cells)
        nxt: dict[int, tuple[float, int, str]] = {}
        for row, cell in enumerate(cells):
            lab = frontier[int(cell)]
            for c in nbrs[row]:
                ci = int(c)
                if ci in answer:
                    continue
                cur = nxt.get(ci)
                if cur is None or lab < cur:
                    nxt[ci] = lab
        for ci, lab in nxt.items():
            answer[ci] = (k, *lab)
        frontier = nxt
        if not frontier:
            break
    return answer
