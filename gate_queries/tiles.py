"""Tiling gate queries: S2 and H3 cells, the k-ring raster kNN and the
Z-order layout."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gate_queries.common import _LAT100, _LON100, _raster_index
from ot_spark import pagesview

# Tile sizes of the tiling queries; each builder and its oracle read the same one.
S2_LEVEL = 10
H3_RES, H3_PARENT_RES = 9, 7
KNN_RES, KNN_MAX_K = 4, 4


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout assignment (round 6; ot_spark/cells.py::
    zorder_layout): Morton-interleave the 1-degree grid coordinates
    (9 bits each), zbucket = top 6 z bits — a static space partition,
    pure map, zero shuffles, deterministic under any parallelism.
    The SQL twin is generated from the same loop, so the oracle is
    bit-exact."""
    from ot_spark.cells import zorder_layout
    from ot_spark.pagesview import pages_df

    p = pages_df(spark, sf_dir).select(
        "doc_id",
        F.expr("CAST(floor(lon + 180.0) AS BIGINT)").alias("xi"),
        F.expr("CAST(floor(lat + 90.0) AS BIGINT)").alias("yi"),
    )
    return zorder_layout(p, F.col("xi"), F.col("yi"))


def zorder_oracle_sql() -> str:
    from ot_spark.cells import zorder_sql

    z = zorder_sql("xi", "yi")
    return f"""
WITH g AS (
  SELECT doc_id,
         CAST(floor({_LON100} / 100.0 + 180.0) AS BIGINT) AS xi,
         CAST(floor({_LAT100} / 100.0 + 90.0) AS BIGINT) AS yi
  FROM documents
)
SELECT doc_id, xi, yi, {z} AS zval,
       CAST({z} >> 12 AS BIGINT) AS zbucket
FROM g
"""


def q_s2_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 cell encode (level 10) + per-cell rollup (north_star tiling).
    Full oracle: s2_tiles_oracle_sql replays the whole encode (face/uv,
    quadratic ST, Hilbert LUT walk) in DuckDB; id algebra additionally
    pinned by tests/test_s2h3.py invariants."""
    from ot_spark.enrich_fused import spatial_enrich

    df = pagesview.pages_df(spark, sf_dir)
    out = spatial_enrich(df, None, s2_level=S2_LEVEL, h3_resolutions=())
    return out.groupBy(f"s2_{S2_LEVEL}").agg(F.count(F.lit(1)).cast("long").alias("n_pages"))


def s2_tiles_oracle_sql() -> str:
    """Full SQL re-derivation of the S2 encode (graduates s2_tiles from
    rows-only, VERDICT-r3 #6): lat/lon -> unit xyz -> cube face + (u,v) ->
    quadratic ST -> 30-bit (i,j) -> Hilbert position via a RECURSIVE CTE
    over the 1024-entry 4-bit lookup table (inlined as VALUES — the same
    public s2geometry construction s2h3.py builds, but walked by DuckDB's
    iteration, not numpy's) -> leaf id -> level-L parent by HUGEINT
    arithmetic (clear-low-bits + lsb), wrapped to signed 64-bit at the
    end.  Bit-exact vs the Spark path on all of sf0.001/0.01/0.1
    (pre-verified: 6000/6000 ids)."""
    from ot_spark.s2h3 import _LOOKUP_POS

    lut_vals = ",".join(f"({k},{int(v)})" for k, v in enumerate(_LOOKUP_POS))
    pcase = (
        "CASE w.k "
        + " ".join(f"WHEN {k} THEN {1 << (k * 8)}::HUGEINT" for k in range(8))
        + " END"
    )
    lsb = 1 << (2 * (30 - S2_LEVEL))
    return f"""
WITH RECURSIVE lut(key, val) AS (VALUES {lut_vals}),
pts AS (SELECT doc_id, {pagesview.LAT_SQL} AS lat, {pagesview.LON_SQL} AS lon FROM documents),
xyz AS (SELECT doc_id, cos(radians(lat))*cos(radians(lon)) AS x,
               cos(radians(lat))*sin(radians(lon)) AS y, sin(radians(lat)) AS z FROM pts),
f0 AS (SELECT *, CASE WHEN abs(x) >= abs(y)
                      THEN CASE WHEN abs(x) >= abs(z) THEN 0 ELSE 2 END
                      ELSE CASE WHEN abs(y) >= abs(z) THEN 1 ELSE 2 END END AS face0 FROM xyz),
f1 AS (SELECT *, face0 + CASE WHEN (CASE face0 WHEN 0 THEN x WHEN 1 THEN y ELSE z END) < 0
                              THEN 3 ELSE 0 END AS face FROM f0),
fuv AS (SELECT doc_id, face,
 (CASE face WHEN 0 THEN y WHEN 1 THEN -x WHEN 2 THEN -x WHEN 3 THEN z WHEN 4 THEN z ELSE -y END)
   / (CASE face % 3 WHEN 0 THEN x WHEN 1 THEN y ELSE z END) AS u,
 (CASE face WHEN 0 THEN z WHEN 1 THEN z WHEN 2 THEN -y WHEN 3 THEN y WHEN 4 THEN -x ELSE -x END)
   / (CASE face % 3 WHEN 0 THEN x WHEN 1 THEN y ELSE z END) AS v
 FROM f1),
st AS (SELECT doc_id, face,
 CASE WHEN u >= 0 THEN 0.5*sqrt(greatest(1.0+3.0*u,0.0)) ELSE 1.0-0.5*sqrt(greatest(1.0-3.0*u,0.0)) END AS s,
 CASE WHEN v >= 0 THEN 0.5*sqrt(greatest(1.0+3.0*v,0.0)) ELSE 1.0-0.5*sqrt(greatest(1.0-3.0*v,0.0)) END AS t
 FROM fuv),
ij AS (SELECT doc_id, face,
 least(greatest(CAST(floor(s*1073741824.0) AS BIGINT),0),1073741823) AS i,
 least(greatest(CAST(floor(t*1073741824.0) AS BIGINT),0),1073741823) AS j
 FROM st),
walk AS (
 SELECT doc_id, face, i, j, 7 AS k, face & 1 AS bits,
        CAST(face AS HUGEINT)*1152921504606846976::HUGEINT AS n FROM ij
 UNION ALL
 SELECT w.doc_id, w.face, w.i, w.j, w.k-1, l.val & 3,
        w.n + (CAST(l.val AS HUGEINT)//4)*{pcase}
 FROM walk w JOIN lut l
   ON l.key = w.bits + ((w.i >> (w.k*4)) & 15)*64 + ((w.j >> (w.k*4)) & 15)*4
 WHERE w.k >= 0),
leaf AS (SELECT doc_id, n*2+1 AS uid FROM walk WHERE k = -1),
parent AS (SELECT doc_id, (uid // {2 * lsb}::HUGEINT)*{2 * lsb}::HUGEINT
                          + {lsb}::HUGEINT AS pu FROM leaf),
cells AS (SELECT doc_id,
 CAST(((pu + 9223372036854775808::HUGEINT) % 18446744073709551616::HUGEINT)
      - 9223372036854775808::HUGEINT AS BIGINT) AS s2_{S2_LEVEL} FROM parent)
SELECT s2_{S2_LEVEL}, CAST(count(*) AS BIGINT) AS n_pages FROM cells GROUP BY 1
"""


def q_h3_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE-GEOMETRY icosahedral aperture-7 res-7/9 encode + hierarchy
    rollup (north_star "H3 res-7/9"; ot_spark/h3x.py — gnomonic faces,
    Class II/III lattices, integer digit chain; res-7 derived from res-9
    by the H3 parent bit-truncation).  The oracle replays the whole
    encode in DuckDB arithmetic (h3x_tiles_oracle_sql)."""
    from ot_spark.enrich_fused import spatial_enrich

    df = pagesview.pages_df(spark, sf_dir)
    out = spatial_enrich(
        df, None, s2_level=None, h3_resolutions=(H3_PARENT_RES, H3_RES)
    )
    return out.groupBy(f"h3_{H3_PARENT_RES}").agg(
        F.count(F.lit(1)).cast("long").alias("n_pages"),
        F.countDistinct(f"h3_{H3_RES}").cast("long").alias("n_children"),
    )


def _rha(v: str) -> str:  # numpy _round_half_away: copysign(floor(|v|+0.5), v)
    return (
        f"(CASE WHEN ({v}) >= 0 THEN floor(({v}) + 0.5) "
        f"ELSE -floor(0.5 - ({v})) END)"
    )


def _h3x_face_ctes(k: dict) -> str:
    """CTEs ``pts`` .. ``gno`` both h3x oracles open with: lat/lon -> unit
    xyz -> nearest icosahedron face (argmax of 12-dp-rounded dot products,
    inlined frame table) -> gnomonic face coordinates (gx, gy)."""
    deg = repr(k["deg"])
    faces_rows = ",\n  ".join(
        "(" + ",".join([str(r[0])] + [repr(v) for v in r[1:]]) + ")"
        for r in k["faces"]
    )
    return f"""
WITH pts AS (
  SELECT doc_id, {pagesview.LAT_SQL} AS lat, {pagesview.LON_SQL} AS lon
  FROM documents
), xyz AS (
  SELECT doc_id,
    cos(lat*{deg}) * cos(lon*{deg}) AS x,
    cos(lat*{deg}) * sin(lon*{deg}) AS y,
    sin(lat*{deg}) AS z
  FROM pts
), faces(f, cx, cy, cz, exx, exy, exz, eyx, eyy, eyz) AS (VALUES
  {faces_rows}
), fsel AS (
  SELECT * FROM (
    SELECT xyz.*, faces.*,
      row_number() OVER (
        PARTITION BY doc_id
        ORDER BY round_even((x*cx + y*cy + z*cz) * 1000000000000.0, 0) DESC,
                 f ASC
      ) AS rn
    FROM xyz CROSS JOIN faces
  ) WHERE rn = 1
), gno AS (
  SELECT doc_id, f,
    ((x/dd - cx)*exx + (y/dd - cy)*exy) + (z/dd - cz)*exz AS gx,
    ((x/dd - cx)*eyx + (y/dd - cy)*eyy) + (z/dd - cz)*eyz AS gy
  FROM (SELECT *, (x*cx + y*cy) + z*cz AS dd FROM fsel)
)"""


def _h3x_lattice_ctes(k: dict, res_tag: str) -> str:
    """CTEs ``axial`` and ``cube`` over a ``hexf`` (hx, hy): axial lattice
    coordinates, then cube rounding to integer cells ``i<res_tag>``,
    ``j<res_tag>`` — same tie-break chain as h3x._cube_round_2d,
    half-away so both engines agree."""
    return f"""axial AS (
  SELECT doc_id, f, hx + 0.5*fj AS fi, fj
  FROM (SELECT doc_id, f, hx, hy/{repr(k["half_sqrt3"])} AS fj FROM hexf)
), cube AS (
  SELECT doc_id, f,
    CAST(CASE WHEN dx > dy AND dx > dz THEN -ry - rz ELSE rx END AS BIGINT) AS i{res_tag},
    CAST(CASE WHEN NOT (dx > dy AND dx > dz) AND dz > dy THEN -rx - ry ELSE rz END AS BIGINT) AS j{res_tag}
  FROM (
    SELECT *, abs(rx - fi) AS dx, abs(ry - (-fi - fj)) AS dy, abs(rz - fj) AS dz
    FROM (
      SELECT *, {_rha("fi")} AS rx, {_rha("(-fi - fj)")} AS ry, {_rha("fj")} AS rz
      FROM axial
    )
  )
)"""


def h3x_tiles_oracle_sql() -> str:
    """Full SQL re-derivation of the TRUE-GEOMETRY h3x encode
    (ot_spark/h3x.py): lat/lon -> unit xyz -> nearest icosahedron face
    (argmax of 12-dp-rounded dot products, 20-row inlined frame table) ->
    gnomonic projection -> Class III res-9 hex lattice (9-dp portability
    rounding, half-away cube rounding) -> NINE unrolled exact integer
    up-aperture-7 steps collecting digits -> (base cell, rotation) from
    the inlined 320-entry lookup table -> ccw digit rotation -> H3-layout
    id packing; res-7 packed directly from the first 7 digits (identical
    to the parent bit-truncation the Spark side uses).  Every scalar
    constant is embedded via repr() from the very doubles numpy computed,
    and each arithmetic step mirrors the numpy expression order, so both
    engines walk the same doubles (residual 1-ulp libm trig differences
    are absorbed by the 12-dp/9-dp spec roundings)."""
    from ot_spark.h3x import oracle_constants

    k = oracle_constants(H3_RES)
    table_rows = ",\n  ".join(str(t) for t in k["table"])

    # nine unrolled exact integer up-aperture-7 steps (h3x._up_step):
    # odd child res -> variant A, even -> variant B; digit = unit offset
    steps = []
    prev = "cube"
    carry = ""
    for rr in range(H3_RES, 0, -1):
        if rr % 2 == 1:
            pi = _rha(f"(3*i{rr} - j{rr})/7.0")
            pj = _rha(f"(i{rr} + 2*j{rr})/7.0")
            ci, cj = "2*pi + pj", "-pi + 3*pj"
        else:
            pi = _rha(f"(2*i{rr} + j{rr})/7.0")
            pj = _rha(f"(-i{rr} + 3*j{rr})/7.0")
            ci, cj = "3*pi - pj", "pi + 2*pj"
        steps.append(
            f"u{rr} AS (\n"
            f"  SELECT doc_id, f{carry},\n"
            f"    CAST({pi} AS BIGINT) AS pi, CAST({pj} AS BIGINT) AS pj,\n"
            f"    i{rr}, j{rr}\n  FROM {prev}\n)"
        )
        steps.append(
            f"s{rr} AS (\n"
            f"  SELECT doc_id, f{carry}, pi AS i{rr - 1}, pj AS j{rr - 1},\n"
            f"    (CASE WHEN di = 0 AND dj = 0 THEN 0 "
            f"WHEN di = -1 AND dj = -1 THEN 1 WHEN di = 0 AND dj = 1 THEN 2 "
            f"WHEN di = -1 AND dj = 0 THEN 3 WHEN di = 1 AND dj = 0 THEN 4 "
            f"WHEN di = 0 AND dj = -1 THEN 5 WHEN di = 1 AND dj = 1 THEN 6 END) AS d{rr}\n"
            f"  FROM (SELECT *, i{rr} - ({ci}) AS di, j{rr} - ({cj}) AS dj FROM u{rr})\n)"
        )
        carry += f", d{rr}"
        prev = f"s{rr}"
    step_sql = ",\n".join(steps)
    all_digits = ", ".join(f"d{rr}" for rr in range(1, H3_RES + 1))

    # ccw digit rotation through the axis cycle I->IJ->J->JK->K->IK
    # (h3x._rotate_digits): pos(d) then cyc[(pos + rot) % 6]
    def rot_digit(d: str) -> str:
        pos = (
            f"(CASE {d} WHEN 4 THEN 0 WHEN 6 THEN 1 WHEN 2 THEN 2 "
            f"WHEN 3 THEN 3 WHEN 1 THEN 4 ELSE 5 END)"
        )
        cyc = (
            f"(CASE ({pos} + rot) % 6 WHEN 0 THEN 4 WHEN 1 THEN 6 "
            f"WHEN 2 THEN 2 WHEN 3 THEN 3 WHEN 4 THEN 1 ELSE 5 END)"
        )
        return f"(CASE WHEN {d} = 0 THEN 0 ELSE {cyc} END)"

    rot_cols = ", ".join(
        f"{rot_digit(f'd{rr}')} AS e{rr}" for rr in range(1, H3_RES + 1)
    )
    fine_bits = " | ".join(
        f"(CAST(e{rr} AS BIGINT) << {3 * (15 - rr)})" for rr in range(1, H3_RES + 1)
    )
    parent_bits = " | ".join(
        f"(CAST(e{rr} AS BIGINT) << {3 * (15 - rr)})"
        for rr in range(1, H3_PARENT_RES + 1)
    )
    fine_fill = (1 << (3 * (15 - H3_RES))) - 1
    parent_fill = (1 << (3 * (15 - H3_PARENT_RES))) - 1

    return f"""{_h3x_face_ctes(k)}, hexf AS (
  SELECT doc_id, f,
    round_even((hx0*{repr(k["rot_c"])} + hy0*{repr(k["rot_s"])}) * 1000000000.0, 0)
      / 1000000000.0 AS hx,
    round_even((-(hx0*{repr(k["rot_s"])}) + hy0*{repr(k["rot_c"])}) * 1000000000.0, 0)
      / 1000000000.0 AS hy
  FROM (SELECT doc_id, f, gx*{repr(k["scale"])} AS hx0, gy*{repr(k["scale"])} AS hy0
        FROM gno)
), {_h3x_lattice_ctes(k, "9")},
{step_sql},
bct(bf, bi, bj, bc, rot) AS (VALUES
  {table_rows}
), withbc AS (
  SELECT s1.doc_id, bct.bc, bct.rot, {all_digits}
  FROM s1 JOIN bct ON s1.f = bct.bf AND s1.i0 = bct.bi AND s1.j0 = bct.bj
), rotd AS (
  SELECT doc_id, bc, {rot_cols} FROM withbc
), enc AS (
  SELECT doc_id,
    (CAST({H3_RES} AS BIGINT) << 52) | (CAST(bc AS BIGINT) << 45)
      | {fine_bits} | {fine_fill} AS h3_9,
    (CAST({H3_PARENT_RES} AS BIGINT) << 52) | (CAST(bc AS BIGINT) << 45)
      | {parent_bits} | {parent_fill} AS h3_7
  FROM rotd
)
SELECT h3_7, CAST(count(*) AS BIGINT) AS n_pages,
       CAST(count(DISTINCT h3_9) AS BIGINT) AS n_children
FROM enc GROUP BY h3_7
"""


def q_knn_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN nearest-raster-tile via TRUE-GEOMETRY H3 k-ring expansion
    (north_star "nearest elevation/raster tile via H3 k-ring expansion";
    ot_spark/h3x.py)."""
    from ot_spark.h3x import knn_nearest_raster_h3x

    df = pagesview.pages_df(spark, sf_dir)
    out = knn_nearest_raster_h3x(df, _raster_index(), KNN_RES, KNN_MAX_K)
    return out.select("doc_id", "knn_raster_id", "knn_k")


def knn_raster_oracle_sql() -> str:
    """knn_raster oracle on TRUE-GEOMETRY h3x: the page's (face, i, j)
    axial lattice coordinates at ``KNN_RES`` are re-derived FULLY IN SQL
    (lat/lon -> xyz -> argmax face -> gnomonic -> hex lattice -> cube
    round — the same unrolled fragments the h3_tiles oracle proved
    bit-identical to numpy), and the k-ring walk becomes the CLOSED-FORM
    axial hex distance (|di|+|dj|+|di+dj|)/2 against the coverage VALUES
    table — valid because every covered cell and every reachable page
    cell lies interior to ONE icosahedron face (asserted at build time),
    where H3 grid distance equals axial distance — in h3x's (i, j)
    basis (hex2d x = i - j/2) the six unit neighbors are (+-1,0), (0,+-1)
    and SAME-SIGN (+-1,+-1), so the distance is
    (|di| + |dj| + |di - dj|) / 2 (the standard axial formula under
    r = -j).  This is a genuinely
    different distance computation from production's BFS ring expansion
    over h3x_neighbors, so a neighbor-stepping bug cannot cancel out.
    Coverage enumeration is meshgrid-independent (see
    _knn_raster_h3x_cov_rows); argmin tie-break (k, pixel, order) and the
    LEFT JOIN NULL semantics are pure SQL."""
    from ot_spark.h3x import oracle_constants

    k = oracle_constants(KNN_RES)
    assert KNN_RES % 2 == 0, "odd res needs the ap7 rotation in hexf"
    cov = _knn_raster_h3x_cov_rows()
    faces_used = {key[0] for key in cov}
    assert len(faces_used) == 1, f"coverage straddles faces {faces_used}"
    cov_rows = ",\n  ".join(
        f"({f},{i},{j},{pix!r},{order},'{rid}')"
        for (f, i, j), (pix, order, rid) in sorted(cov.items())
    )

    return f"""{_h3x_face_ctes(k)}, hexf AS (
  SELECT doc_id, f,
    round_even(gx*{repr(k["scale"])} * 1000000000.0, 0) / 1000000000.0 AS hx,
    round_even(gy*{repr(k["scale"])} * 1000000000.0, 0) / 1000000000.0 AS hy
  FROM gno
), {_h3x_lattice_ctes(k, "")}, cov(cf, ci, cj, pix, ord, rid) AS (VALUES
  {cov_rows}
), dist AS (
  SELECT h.doc_id, c.rid, c.pix, c.ord,
         (abs(h.i-c.ci)+abs(h.j-c.cj)+abs((h.i-c.ci)-(h.j-c.cj)))//2 AS k
  FROM cube h JOIN cov c ON h.f = c.cf
), best AS (
  SELECT doc_id, rid, k,
         row_number() OVER (PARTITION BY doc_id ORDER BY k, pix, ord) AS rn
  FROM dist WHERE k <= {KNN_MAX_K}
)
SELECT h.doc_id, b.rid AS knn_raster_id, CAST(b.k AS INTEGER) AS knn_k
FROM cube h LEFT JOIN best b ON b.doc_id = h.doc_id AND b.rn = 1
"""


def _knn_raster_h3x_cov_rows() -> dict:
    """Coverage map for the knn_raster oracle, enumerated INDEPENDENTLY of
    the production flood fill (round-3 advice pattern: a bug in one
    enumeration cannot cancel out): a dense lat/lon MESHGRID over each
    padded tile bbox is encoded to cells, deduped, then filtered by
    center-in-closed-padded-bbox — versus production's
    h3x_polyfill_bbox neighbor flood fill from the bbox center.  Set
    equality of the two methods is pinned by
    tests/test_round6.py::test_knn_coverage_enumerations_agree.
    Returns {(face, i, j): (pixel_area, order, raster_id)} with the same
    finest-first tie-break the production router uses."""
    import numpy as np

    from ot_spark import h3x
    from ot_spark.h3x import KNN_PAD_DEG

    idx = _raster_index()
    step = 0.08  # res-4 cell min-width ~0.35 deg: >= 4 samples per cell
    rows: dict = {}
    for order, t in enumerate(idx.routing()):
        lon0, lat0 = t["min_lon"] - KNN_PAD_DEG, t["min_lat"] - KNN_PAD_DEG
        lon1, lat1 = t["max_lon"] + KNN_PAD_DEG, t["max_lat"] + KNN_PAD_DEG
        ex = 0.5  # sample beyond the bbox so border cells are reached
        lons = np.arange(lon0 - ex, lon1 + ex + step, step)
        lats = np.arange(lat0 - ex, lat1 + ex + step, step)
        lo, la = np.meshgrid(lons, lats)
        ids = np.unique(h3x.h3x_cell_ids(la.ravel(), lo.ravel(), KNN_RES))
        cla, clo = h3x.h3x_cell_center(ids)
        keep = (clo >= lon0) & (clo <= lon1) & (cla >= lat0) & (cla <= lat1)
        ids = ids[keep]
        f, i, j = h3x.h3x_cell_fij(ids, KNN_RES)
        pix = t["pixel_w"] * t["pixel_h"]
        for ff, ii, jj in zip(f, i, j):
            key = (int(ff), int(ii), int(jj))
            cur = rows.get(key)
            if cur is None or (pix, order) < cur[:2]:
                rows[key] = (pix, order, t["raster_id"])
    return rows
