"""True-geometry h3x grid invariants (ot_spark/h3x.py).

Published H3 ids are unreachable offline (the 122-entry baseCellData table
is data, not math — h3x.py module docstring), so these tests pin the
STRUCTURAL properties real H3 guarantees plus golden ids for stability:
- 122 base cells, exactly 12 pentagons (Euler: icosahedron vertices)
- aperture-7 hierarchy: res-1 occupies exactly 122*7 cells
- parent derivation is pure bit truncation and preserves the base cell
- decode->encode roundtrip is EXACT on hexagon base cells at every
  tested resolution (pentagon overage is the documented ragged delta)
- the Spark UDF path equals the numpy path and stays one ArrowEvalPython
"""

from __future__ import annotations

import numpy as np
import pytest

from ot_spark import h3x


def _is_pentagon(ids: np.ndarray) -> np.ndarray:
    *_, pent, _cands = h3x._table_arrays()
    return pent[h3x.h3x_base_cell(ids)]


def _disk(cell: int, k: int) -> set[int]:
    """Cells within grid distance k (H3 gridDisk): frontier expansion over
    h3x_neighbors with dedup."""
    seen = frontier = {cell}
    for _ in range(k):
        nbrs = h3x.h3x_neighbors(np.array(sorted(frontier), dtype=np.int64))
        frontier = {int(c) for c in nbrs.ravel()} - seen
        seen = seen | frontier
    return seen


def _sample(n=20000, seed=7):
    rng = np.random.RandomState(seed)
    return (
        rng.uniform(-89.9, 89.9, n),
        rng.uniform(-179.9, 179.9, n),
    )


def test_base_cell_table_structure():
    bc_home, table = h3x._base_cells()
    assert len(bc_home) == 122
    assert sum(1 for h in bc_home if h[3]) == 12
    # every (face, slot) entry maps to a valid cell and rotation
    assert all(0 <= bc < 122 and 0 <= rot < 6 for bc, rot in table.values())


def test_res0_partition_and_aperture7():
    lat, lon = _sample(60000)
    i0 = h3x.h3x_cell_ids(lat, lon, 0)
    assert len(np.unique(i0)) == 122  # every base cell reachable
    i1 = h3x.h3x_cell_ids(lat, lon, 1)
    # aperture-7: exactly 7 occupied children per base cell (h3x keeps the
    # pentagon K child — documented delta #2)
    assert len(np.unique(i1)) == 122 * 7
    # children sit under their parent's base cell
    assert (h3x.h3x_base_cell(i1) == h3x.h3x_base_cell(h3x.h3x_parent(i1, 0))).all()


def test_parent_is_bit_truncation():
    lat, lon = _sample(5000)
    i9 = h3x.h3x_cell_ids(lat, lon, 9)
    p7 = h3x.h3x_parent(i9, 7)
    assert (h3x.h3x_res(p7) == 7).all()
    assert (h3x.h3x_base_cell(p7) == h3x.h3x_base_cell(i9)).all()
    # digits 8..15 are filled with 7 (the H3 unused-digit marker)
    for rr in range(8, 16):
        assert (((p7 >> np.int64(3 * (15 - rr))) & 7) == 7).all()
    # truncating further commutes
    assert (h3x.h3x_parent(p7, 2) == h3x.h3x_parent(i9, 2)).all()


def test_roundtrip_exact_on_hexagon_cells():
    lat, lon = _sample(30000)
    for res in (0, 1, 2, 7, 9):
        ids = h3x.h3x_cell_ids(lat, lon, res)
        clat, clon = h3x.h3x_cell_center(ids)
        ids2 = h3x.h3x_cell_ids(clat, clon, res)
        pent = _is_pentagon(ids)
        assert (ids[~pent] == ids2[~pent]).all(), f"hex roundtrip broke at res {res}"
        # pentagon overage is ragged (documented delta #3) but bounded
        if pent.any():
            assert (ids[pent] == ids2[pent]).mean() > 0.9


def test_hierarchy_fringe_is_h3_like():
    """Direct res-7 encode vs parent-of-res-9: the aperture-7 pinwheel
    fringe means the union of children != parent hexagon (true in real H3
    too).  Agreement must be high but NOT 1.0 — 1.0 would mean the grid
    degenerated into a nested (non-hex) hierarchy."""
    lat, lon = _sample(50000)
    i7 = h3x.h3x_cell_ids(lat, lon, 7)
    p7 = h3x.h3x_parent(h3x.h3x_cell_ids(lat, lon, 9), 7)
    agree = (i7 == p7).mean()
    assert 0.55 < agree < 0.999


def test_golden_ids_stable():
    """Pinned encode outputs — any table/numbering/math drift fails here."""
    pts = [
        (0.0, 0.0),
        (52.52, 13.405),
        (-33.86, 151.21),
        (48.8566, 2.3522),
        (89.9, 0.0),
        (37.7749, -122.4194),
    ]
    la = np.array([p[0] for p in pts])
    lo = np.array([p[1] for p in pts])
    assert [hex(int(v)) for v in h3x.h3x_cell_ids(la, lo, 7)] == [
        "0x79259659ffffff",
        "0x710c89b6ffffff",
        "0x7bea3c8dffffff",
        "0x72b24c00ffffff",
        "0x700000aaffffff",
        "0x7225cdb6ffffff",
    ]
    assert [hex(int(v)) for v in h3x.h3x_cell_ids(la, lo, 9)] == [
        "0x9925965967ffff",
        "0x910c89b6c7ffff",
        "0x9bea3c8cafffff",
        "0x92b24c009bffff",
        "0x900000aa6bffff",
        "0x92251acda7ffff",
    ]


def test_cell_size_uniformity():
    """Gnomonic hex cells vary in spherical area but stay within the same
    ~2x envelope real H3 has: on a uniform-on-sphere sample, occupied
    res-2 cell counts stay within a loose factor of the mean."""
    rng = np.random.RandomState(3)
    n = 400000
    z = rng.uniform(-1, 1, n)
    lon = rng.uniform(-180, 180, n)
    lat = np.degrees(np.arcsin(z))
    ids = h3x.h3x_cell_ids(lat, lon, 2)
    u, counts = np.unique(ids, return_counts=True)
    # >99% of the 122*49 res-2 cells hit; the handful of misses are the
    # tiny pentagon K-child slivers (documented deltas #2/#3)
    assert len(counts) > 0.99 * 122 * 49
    miss = 122 * 49 - len(counts)
    assert miss == 0 or _is_pentagon(u).any()
    mean = counts.mean()
    assert counts.max() < 3.5 * mean
    # bulk of cells within a real-H3-like size envelope (slivers excluded)
    assert np.percentile(counts, 5) > mean / 3.5


def test_spark_udf_matches_numpy(spark):
    import pandas as pd

    from ot_spark.enrich_fused import spatial_enrich

    lat, lon = _sample(2000, seed=11)
    pdf = pd.DataFrame({"doc_id": np.arange(2000), "lat": lat, "lon": lon})
    out = (
        spatial_enrich(spark.createDataFrame(pdf), None, s2_level=None)
        .orderBy("doc_id")
        .toPandas()
    )
    i9 = h3x.h3x_cell_ids(lat, lon, 9)
    assert (out.h3_9.to_numpy() == i9).all()
    assert (out.h3_7.to_numpy() == h3x.h3x_parent(i9, 7)).all()


def test_spark_plan_single_arrow_udf(spark):
    import pandas as pd

    from ot_spark.enrich_fused import spatial_enrich
    from tools.gate import node_count

    pdf = pd.DataFrame({"doc_id": [1], "lat": [1.0], "lon": [2.0]})
    df = spatial_enrich(spark.createDataFrame(pdf), None, s2_level=None)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert node_count(plan, "ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan


def test_neighbors_and_kring():
    """Hexagon cells: 6 distinct neighbors, symmetric adjacency, ring
    sizes 1+3k(k+1); pentagon cells: 5 distinct neighbors."""
    la = np.array([52.52, -33.86, 37.77])
    lo = np.array([13.405, 151.21, -122.42])
    ids = h3x.h3x_cell_ids(la, lo, 7)
    nb = h3x.h3x_neighbors(ids)
    for r in range(len(ids)):
        ns = set(int(v) for v in nb[r])
        assert len(ns) == 6 and int(ids[r]) not in ns
        # adjacency is symmetric
        for n in ns:
            back = set(int(v) for v in h3x.h3x_neighbors(np.array([n]))[0])
            assert int(ids[r]) in back
    assert [len(_disk(int(ids[0]), k)) for k in (1, 2, 3)] == [7, 19, 37]

    # pentagons: 5 mutually-adjacent neighbors; only the two POLAR
    # pentagons may show one extra/unreciprocated fringe slot (docstring
    # delta #3 — the vertex deficit), measured: 10/12 exactly 5-of-5
    for b, h in enumerate(bc_home_all()):
        if not h[3]:
            continue
        pid = np.int64((0 << 52) | (b << 45) | ((1 << 45) - 1))
        ns = set(int(v) for v in h3x.h3x_neighbors(np.array([pid]))[0]) - {int(pid)}
        mutual = sum(
            1 for n in ns
            if int(pid) in set(
                int(v) for v in h3x.h3x_neighbors(np.array([n], dtype=np.int64))[0]
            )
        )
        assert 5 <= len(ns) <= 6 and mutual >= 4
        if b not in (0, 121):  # non-polar pentagons are exact
            assert len(ns) == 5 and mutual == 5


def bc_home_all():
    bc_home, _ = h3x._base_cells()
    return bc_home
