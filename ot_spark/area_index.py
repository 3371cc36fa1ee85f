"""Grid area index: build / save / load (reference ``Mapping``).

Reimplements /root/reference/src/area.rs:39-117 semantics exactly:

- fixed lon/lat grid of ``tile_size`` degrees, ``num_tiles_lon = ceil(360/ts)``
  (area.rs:56-58);
- per area (CSV order, ids from 1): for every grid tile whose bbox intersects
  the area bbox AND the area geometry (area.rs:100),
  - if the area CONTAINS the tile and the cell is unassigned -> single-area
    cell (``index[cell] = area_id``, area.rs:101-103);
  - else clip ``area ∩ tile`` — if non-empty the cell becomes MULTIPLE; if it
    previously held a single area, that area is re-inserted with the WHOLE
    TILE as its geometry (area.rs:104-112 — faithful quirk: the prior
    single-area claim covers the full tile, so its PIP test at probe time is
    always true for points in that tile);
- probe trichotomy 0 / single / MULTIPLE: :class:`CellLookup`, the one
  kernel behind ``probe`` and both distributed enrichers.

The build is a DRIVER-side job over the (small) polygon table — exactly the
reference's architecture where the index is precomputed once and shared; at
cluster scale the built index is what gets broadcast, never the raw
polygons.  Persistence is a single parquet (vs the reference's 5 CSV/YAML
files, area.rs:171-223) with the same recompute-or-load contract
(src/lib.rs:403-414).
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field
from functools import cached_property

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import geom
from .cells import cell_bounds, grid_cell_py, num_tiles_lon

MULTIPLE = 0xFFFF  # AREA_ID_MULTIPLE, area.rs:25


@dataclass
class AreaIndex:
    tile_size: float
    # cell -> area_id (single) or MULTIPLE
    index: dict[int, int] = field(default_factory=dict)
    # cell -> list[(area_id, MultiPolygon)] in insertion order (BTreeMultiMap
    # get_vec preserves insertion order per key)
    border: dict[int, list[tuple[int, geom.MultiPolygon]]] = field(default_factory=dict)
    id_to_key: dict[int, str] = field(default_factory=dict)
    id_to_name: dict[int, str] = field(default_factory=dict)

    @property
    def single_cells(self) -> dict[int, str]:
        return {
            c: self.id_to_key[a] for c, a in self.index.items() if a != MULTIPLE
        }

    @property
    def border_cells(self) -> set[int]:
        return {c for c, a in self.index.items() if a == MULTIPLE}

    @cached_property
    def cell_lookup(self) -> CellLookup:
        """The probe tables as numpy arrays (what executors receive),
        derived on first use: an index is complete once built or loaded."""
        return CellLookup.from_index(self)

    def lookup(self, cells, lon, lat) -> np.ndarray:
        """admin_key per point of already-computed grid cells (see
        :meth:`CellLookup.lookup`)."""
        return self.cell_lookup.lookup(cells, lon, lat)

    def probe(self, lat: float, lon: float) -> str | None:
        """Single-point probe (AreaHandler::handle_node, area.rs:366-401)
        through the same kernel as the distributed path."""
        cell = grid_cell_py(lat, lon, self.tile_size)
        return self.lookup([np.nan if cell is None else cell], [lon], [lat])[0]


@dataclass(frozen=True)
class CellLookup:
    """The probe trichotomy (area.rs:366-401) as one vectorised kernel.

    ``cells`` are the indexed cell ids, sorted; ``state[i]`` is the
    ``keys`` position of a single-area cell, or -1 for a MULTIPLE cell
    whose candidates (key positions, clipped MultiPolygons, in insertion
    order) are ``border[i]``.  Plain numpy and lists, so it pickles into a
    broadcast."""

    keys: np.ndarray
    cells: np.ndarray
    state: np.ndarray
    border: dict[int, tuple[np.ndarray, list[geom.MultiPolygon]]]

    @classmethod
    def from_index(cls, idx: AreaIndex) -> CellLookup:
        pos = {aid: i for i, aid in enumerate(sorted(idx.id_to_key))}
        cells = sorted(idx.index)
        states = [idx.index[c] for c in cells]
        return cls(
            keys=np.array([idx.id_to_key[a] for a in pos], dtype=object),
            cells=np.array(cells, dtype=np.int64),
            state=np.array([-1 if a == MULTIPLE else pos[a] for a in states], dtype=np.int64),
            border={
                i: (np.array([pos[a] for a, _ in cs], dtype=np.int64), [mp for _, mp in cs])
                for i, (c, a) in enumerate(zip(cells, states))
                if a == MULTIPLE and (cs := idx.border.get(c))
            },
        )

    def lookup(self, cells, lon, lat) -> np.ndarray:
        """Object array of admin_key (None = no area) per point.

        ``cells`` is the grid cell per point, NaN where the probe is
        skipped (|lat| >= 90 or NULL coordinates, area.rs:368-370).
        Single-area cells resolve by binary search with no geometry test
        (area.rs:391-394).  Points in MULTIPLE cells are tested against
        each candidate of their cell (boundary inclusive, area.rs:381);
        hits are comma-joined in insertion order, once per distinct hit
        pattern of the cell (area.rs:377-389, 396-399)."""
        cells = np.asarray(cells, dtype=np.float64)
        out = np.full(len(cells), None, dtype=object)
        rows = np.flatnonzero(~np.isnan(cells))
        if not len(self.cells):
            return out
        c = cells[rows].astype(np.int64)
        at = np.minimum(np.searchsorted(self.cells, c), len(self.cells) - 1)
        state = np.where(self.cells[at] == c, self.state[at], -2)  # -2: empty
        single = state >= 0
        out[rows[single]] = self.keys[state[single]]

        multi = state == -1
        rows, at = rows[multi], at[multi]
        lon = np.asarray(lon, dtype=np.float64)[rows]
        lat = np.asarray(lat, dtype=np.float64)[rows]
        order = np.argsort(at, kind="stable")
        cell_at, starts = np.unique(at[order], return_index=True)
        for b, sel in zip(cell_at, np.split(order, starts[1:])):
            if b not in self.border:
                continue
            key_pos, mps = self.border[b]
            hits = np.column_stack(
                [geom.points_intersect_mp(lon[sel], lat[sel], mp) for mp in mps]
            )
            out[rows[sel]] = self._joined(hits, key_pos)
        return out

    def _joined(self, hits: np.ndarray, key_pos: np.ndarray) -> np.ndarray:
        """Comma-joined keys per row of a (points x candidates) hit matrix."""
        patterns, inverse = np.unique(hits, axis=0, return_inverse=True)
        labels = np.array(
            [",".join(self.keys[key_pos[p]]) if p.any() else None for p in patterns],
            dtype=object,
        )
        return labels[inverse.reshape(-1)]


def build_area_index(
    rows: list[tuple[str, str, str]], tile_size: float = 1.0
) -> AreaIndex:
    """rows = [(key, name, wkt)] in CSV order; ids assigned from 1
    (area.rs:236-249). Unsupported geometries are skipped with the same
    warning semantics (area.rs:241-247)."""
    idx = AreaIndex(tile_size=tile_size)
    ntl = num_tiles_lon(tile_size)
    area_id = 0
    for key, name, wkt in rows:
        try:
            mp = geom.parse_wkt(wkt)
        except ValueError:
            continue
        area_id += 1
        idx.id_to_key[area_id] = key
        idx.id_to_name[area_id] = name
        min_lon, min_lat, max_lon, max_lat = geom.mp_bbox(mp)
        # only tiles overlapping the area bbox can intersect (the reference
        # scans all cells but bbox-prefilters, area.rs:99-100 — same result)
        c0 = max(int((min_lat + 90.0) // tile_size), 0)
        c1 = min(int(math.ceil((max_lat + 90.0) / tile_size)), math.ceil(180.0 / tile_size))
        r0 = max(int((min_lon + 180.0) // tile_size), 0)
        r1 = min(int(math.ceil((max_lon + 180.0) / tile_size)), ntl)
        for ti_lat in range(c0, c1):
            for ti_lon in range(r0, r1):
                cell = ti_lat * ntl + ti_lon
                blon0, blat0, blon1, blat1 = cell_bounds(cell, tile_size)
                clipped = geom.clip_mp_to_box(mp, blon0, blat0, blon1, blat1)
                if not clipped:
                    continue
                cur = idx.index.get(cell, 0)
                if geom.mp_contains_box(mp, blon0, blat0, blon1, blat1) and cur == 0:
                    idx.index[cell] = area_id
                else:
                    if cur != 0 and cur != MULTIPLE:
                        # prior single owner gets the WHOLE tile (area.rs:107-109)
                        tile_mp = [[geom.box_ring(blon0, blat0, blon1, blat1)]]
                        idx.border.setdefault(cell, []).append((cur, tile_mp))
                    idx.index[cell] = MULTIPLE
                    idx.border.setdefault(cell, []).append((area_id, clipped))
    return idx


def build_from_csv_df(polygons_df, tile_size: float = 1.0) -> AreaIndex:
    """Build from a (key, name, wkt) DataFrame — collect is correct here:
    admin polygon tables are small dimension data (the reference loads the
    whole CSV on one machine too, area.rs:225-251)."""
    rows = [(r["key"], r["name"], r["wkt"]) for r in polygons_df.collect()]
    return build_area_index(rows, tile_size)


# ------------------------------------------------------------- persistence

def save_index(idx: AreaIndex, path: str) -> None:
    """One parquet with 3 logical record kinds (vs 5 files, area.rs:171-223)."""
    rows = {"kind": [], "cell": [], "area_id": [], "key": [], "name": [], "wkt": []}

    def add(kind, cell, area_id, key="", name="", wkt=""):
        rows["kind"].append(kind)
        rows["cell"].append(cell)
        rows["area_id"].append(area_id)
        rows["key"].append(key)
        rows["name"].append(name)
        rows["wkt"].append(wkt)

    for aid in sorted(idx.id_to_key):
        add("area", -1, aid, idx.id_to_key[aid], idx.id_to_name[aid])
    for cell in sorted(idx.index):
        add("index", cell, idx.index[cell])
    for cell in sorted(idx.border):
        for aid, mp in idx.border[cell]:
            add("border", cell, aid, wkt=geom.mp_to_wkt(mp))
    tbl = pa.table(
        {
            "kind": pa.array(rows["kind"]),
            "cell": pa.array(rows["cell"], pa.int64()),
            "area_id": pa.array(rows["area_id"], pa.int32()),
            "key": pa.array(rows["key"]),
            "name": pa.array(rows["name"]),
            "wkt": pa.array(rows["wkt"]),
        },
        metadata={b"tile_size": str(idx.tile_size).encode()},
    )
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    pq.write_table(tbl, path)


def load_index(path: str) -> AreaIndex:
    tbl = pq.read_table(path)
    tile_size = float(tbl.schema.metadata[b"tile_size"].decode())
    idx = AreaIndex(tile_size=tile_size)
    d = tbl.to_pydict()
    for kind, cell, aid, key, name, wkt in zip(
        d["kind"], d["cell"], d["area_id"], d["key"], d["name"], d["wkt"]
    ):
        if kind == "area":
            idx.id_to_key[aid] = key
            idx.id_to_name[aid] = name
        elif kind == "index":
            idx.index[cell] = aid
        else:
            idx.border.setdefault(cell, []).append((aid, geom.parse_wkt(wkt)))
    return idx


def load_or_build(polygons_df, cache_path: str, tile_size: float = 1.0) -> AreaIndex:
    """should_load/should_build contract (src/lib.rs:403-414)."""
    if os.path.exists(cache_path):
        return load_index(cache_path)
    idx = build_from_csv_df(polygons_df, tile_size)
    save_index(idx, cache_path)
    return idx
