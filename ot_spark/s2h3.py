"""Hierarchical cell ids: the S2 cell-id encoder.

No s2sphere/h3 libraries exist in the target environment (SURVEY.md §7.0),
so S2 is implemented from the published algorithm in pure numpy,
vectorized over Arrow batches:

- **S2** (exact, from the public s2geometry algorithm): lat/lon -> unit
  xyz -> cube face + (u,v) -> quadratic ST transform -> 30-bit (i,j) ->
  Hilbert-curve position via the standard 4-bit lookup tables (built with
  the published recursive construction) -> 64-bit cell id, truncatable to
  any level.  Level-L ids satisfy the s2 hierarchy contract
  (``parent = (leaf & ~(2*lsb-1)) | lsb``) and the face contract
  (``id >> 61 == face``).
- **H3**: the true-geometry icosahedral aperture-7 grid lives in
  :mod:`ot_spark.h3x` (gnomonic faces, Class II/III lattices, 122 base
  cells / 12 pentagons, H3-layout ids, k-ring kNN);
  enrich_fused.spatial_enrich encodes it next to S2 in one Arrow UDF.
"""

from __future__ import annotations

import numpy as np

# ------------------------------------------------------------------ S2 core

_SWAP = 1
_INVERT = 2
_POS_TO_IJ = np.array(
    [[0, 1, 3, 2], [0, 2, 3, 1], [3, 2, 0, 1], [3, 1, 0, 2]], dtype=np.int64
)
_POS_TO_ORIENT = np.array([_SWAP, 0, 0, _INVERT | _SWAP], dtype=np.int64)

_LOOKUP_POS = np.zeros(1 << 10, dtype=np.int64)
_LOOKUP_IJ = np.zeros(1 << 10, dtype=np.int64)


def _init_lookup(level: int, i: int, j: int, orig: int, pos: int, orient: int) -> None:
    if level == 4:
        ij = (i << 4) + j
        _LOOKUP_POS[(ij << 2) + orig] = (pos << 2) + orient
        _LOOKUP_IJ[(pos << 2) + orig] = (ij << 2) + orient
        return
    level += 1
    i <<= 1
    j <<= 1
    pos <<= 2
    r = _POS_TO_IJ[orient]
    for index in range(4):
        ij = int(r[index])
        _init_lookup(
            level, i + (ij >> 1), j + (ij & 1), orig, pos + index,
            orient ^ int(_POS_TO_ORIENT[index]),
        )


for _o in range(4):
    _init_lookup(0, 0, 0, _o, 0, _o)

_MAX_LEVEL = 30
_MAX_SIZE = 1 << _MAX_LEVEL


def _lat_lon_to_xyz(lat: np.ndarray, lon: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    phi = np.radians(lat)
    theta = np.radians(lon)
    cos_phi = np.cos(phi)
    return cos_phi * np.cos(theta), cos_phi * np.sin(theta), np.sin(phi)


# per-face (u, v) numerator component index and sign; denominator is the
# major (face-axis) component — standard ValidFaceXYZtoUV table
_U_IDX = np.array([1, 0, 0, 2, 2, 1])
_U_SGN = np.array([1.0, -1.0, -1.0, 1.0, 1.0, -1.0])
_V_IDX = np.array([2, 2, 1, 1, 0, 0])
_V_SGN = np.array([1.0, 1.0, -1.0, 1.0, -1.0, -1.0])


def _xyz_to_face_uv(x: np.ndarray, y: np.ndarray, z: np.ndarray):
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(ax >= ay, np.where(ax >= az, 0, 2), np.where(ay >= az, 1, 2))
    major0 = np.choose(face, [x, y, z])
    face = (face + np.where(major0 < 0, 3, 0)).astype(np.int64)
    stack = np.stack([x, y, z])
    n = np.arange(len(x))
    major = stack[face % 3, n]
    u = _U_SGN[face] * stack[_U_IDX[face], n] / major
    v = _V_SGN[face] * stack[_V_IDX[face], n] / major
    return face, u, v


def _st_to_ij(s: np.ndarray) -> np.ndarray:
    return np.clip((s * _MAX_SIZE).astype(np.int64), 0, _MAX_SIZE - 1)


def _uv_to_st(u: np.ndarray) -> np.ndarray:
    # S2's quadratic projection; clip the radicand per branch (np.where
    # evaluates both sides — unclipped this emits sqrt-of-negative warnings
    # and wastes a pass)
    pos = 0.5 * np.sqrt(np.maximum(1.0 + 3.0 * u, 0.0))
    neg = 1.0 - 0.5 * np.sqrt(np.maximum(1.0 - 3.0 * u, 0.0))
    return np.where(u >= 0, pos, neg)


def s2_leaf_ids(lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    """Vectorized FromFaceIJ over the 8 4-bit chunks (lookup-table walk)."""
    x, y, z = _lat_lon_to_xyz(
        np.asarray(lat, dtype=np.float64), np.asarray(lon, dtype=np.float64)
    )
    face, u, v = _xyz_to_face_uv(x, y, z)
    i = _st_to_ij(_uv_to_st(u))
    j = _st_to_ij(_uv_to_st(v))
    n = face.astype(np.uint64) << np.uint64(60)
    bits = (face & _SWAP).astype(np.int64)
    for k in range(7, -1, -1):
        mask = (1 << 4) - 1
        bits += ((i >> (k * 4)) & mask) << 6
        bits += ((j >> (k * 4)) & mask) << 2
        bits = _LOOKUP_POS[bits]
        n |= (bits.astype(np.uint64) >> np.uint64(2)) << np.uint64(k * 8)
        bits &= _SWAP | _INVERT
    return (n * np.uint64(2) + np.uint64(1)).astype(np.int64)


def s2_parent(ids: np.ndarray, level: int) -> np.ndarray:
    """Truncate leaf (or finer) ids to ``level`` (s2 lsb algebra)."""
    ids_u = np.asarray(ids).astype(np.uint64)
    lsb = np.uint64(1) << np.uint64(2 * (_MAX_LEVEL - level))
    return ((ids_u & ~(np.uint64(2) * lsb - np.uint64(1))) | lsb).astype(np.int64)


def s2_cell_ids(lat: np.ndarray, lon: np.ndarray, level: int = 10) -> np.ndarray:
    return s2_parent(s2_leaf_ids(lat, lon), level)

