"""Deterministic synthetic fixtures (seeded, no external data).

Generates the graft input tables described in FIXTURES.md:

- ``pages(url, warc_ts, html, text, lang)`` — Common-Crawl-style pages with
  coordinates embedded in url / text / html-meta per a fixed per-row rule,
  plus an ``attrs`` map replaying the reference ComplexElementsFilter truth
  table (/root/reference/src/handler/filter.rs:520-614).
- ``links(link_id, attrs, refs)`` — ways/relations analog for the J1
  semi-join (/root/reference/src/handler/collect.rs:18-38) including
  skip-elevation keys (/root/reference/src/handler/skip_ele.rs:11,23-25).
- ``admin_polygons(key, name, wkt)`` — the reference's golden PIP fixtures
  (/root/reference/src/area.rs:447-564): Squareland / Rectanglia sharing a
  border, Trianglia, and grid-edge variants.
- ``raster_tiles`` — GeoTIFF semantic mirror (EPSG:4326 affine grid +
  NoData, /root/reference/src/handler/geotiff.rs:23-60): two overlapping
  fine tiles + one coarse tile + an uncovered gap, replicating the routing
  tests at geotiff.rs:747-793.

Everything is a pure function of (row index, seed) — byte-identical output
for a given seed.  Written with pyarrow directly (no Spark needed to
generate), read back with spark.read.parquet.
"""

from __future__ import annotations

import functools
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
NODATA = -32768.0

LANGS = ["en", "de", "nl", "fr", "es", "it", "pt", "pl"]

# Truth-table attrs by row % 16 — accept/reject per the reference filter
# algebra (filter.rs:231-236). Expected accepts: {0,1,2,3,4,5,10,12,15}.
ATTR_TRUTH_TABLE: list[dict[str, str]] = [
    {"highway": "primary"},                              # 0  good key
    {"route": "bus", "building": "yes"},                 # 1  good key beats bad
    {"railway": "platform"},                             # 2  good kv
    {"railway": "station"},                              # 3  no bad keys
    {"public_transport": "platform", "building": "yes"},  # 4  good kv
    {"man_made": "pier"},                                # 5  good kv beats bad key
    {"man_made": "tower"},                               # 6  bad key
    {"building": "yes"},                                 # 7  bad key
    {"landuse": "forest", "name": "x"},                  # 8  bad key
    {"note": "n", "fixme": "f"},                         # 9  only removable
    {"highway": "x", "note": "y"},                       # 10 good + removable
    {},                                                  # 11 empty -> reject
    {"name": "a"},                                       # 12 no bad keys
    {"url": "http://x"},                                 # 13 only removable
    {"waterway": "river"},                               # 14 bad key
    {"boundary": "administrative", "route": "ferry"},    # 15 good key
]
ACCEPTED_MODS = {0, 1, 2, 3, 4, 5, 10, 12, 15}

WORDS = (
    "spark grid tile raster page crawl filter enrich join cell index "
    "polygon border route rail pier water forest admin lineage"
).split()


@functools.cache
def _coords(n: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic lat/lon: 70% clustered on the fixture-polygon region
    (exercises PIP + rasters), 30% world-spread; a few exact edge cases.
    Memoized (``_url_of`` reads it once per link): callers must not
    mutate the arrays."""
    rng = np.random.RandomState(seed)
    lat = rng.uniform(-0.9, 4.9, n)
    lon = rng.uniform(-0.9, 8.9, n)
    world = rng.rand(n) < 0.3
    lat[world] = rng.uniform(-89.99, 89.99, world.sum())
    lon[world] = rng.uniform(-180.0, 179.99, world.sum())
    # pinned golden points (reference PIP tests, src/area.rs:447-530)
    pins = [
        (2.0, 2.0),    # Squareland interior
        (2.0, 2.5),    # SQA/REC shared border -> "SQA,REC"
        (2.0, 3.0),    # Rectanglia interior
        (1.9, 6.5),    # Trianglia interior
        (0.5, 0.5),    # outside all areas
        (90.0, 0.0),   # pole -> skipped (area.rs:368-370)
        (-90.0, 0.0),  # pole -> skipped
        (2.5, 2.5),    # polygon corner on cell interior
    ]
    for i, (plat, plon) in enumerate(pins):
        lat[i], lon[i] = plat, plon
    return np.round(lat, 7), np.round(lon, 7)


def gen_pages(n: int = 4000, seed: int = SEED) -> pa.Table:
    lat, lon = _coords(n, seed)
    rng = np.random.RandomState(seed + 1)
    word_idx = rng.randint(0, len(WORDS), (n, 12))

    urls, texts, htmls, langs, ts = [], [], [], [], []
    attrs_keys, attrs_vals = [], []
    true_lat, true_lon, src = [], [], []
    for i in range(n):
        host = f"site-{i % 20}.example.org"
        slug = f"p{i}"
        body = " ".join(WORDS[j] for j in word_idx[i])
        mode = i % 10  # 0-4 url, 5-6 text, 7 html, 8-9 no coords
        la, lo = float(lat[i]), float(lon[i])
        if mode <= 4:
            url = f"https://{host}/geo/{la:.7f},{lo:.7f}/{slug}"
            text = body
            html = f"<html><body>{body}</body></html>".encode()
            src.append("url")
        elif mode <= 6:
            url = f"https://{host}/page/{slug}"
            text = f"{body} coords: {la:.7f}, {lo:.7f} {body}"
            html = f"<html><body>{body}</body></html>".encode()
            src.append("text")
        elif mode == 7:
            url = f"https://{host}/page/{slug}"
            text = body
            html = (
                f'<html><head><meta name="geo.position" content="{la:.7f};{lo:.7f}">'
                f"</head><body>{body}</body></html>"
            ).encode()
            src.append("html")
        else:
            url = f"https://{host}/page/{slug}"
            text = body
            html = f"<html><body>{body}</body></html>".encode()
            la, lo = None, None
            src.append("none")
        amap = ATTR_TRUTH_TABLE[i % 16]
        urls.append(url)
        texts.append(text)
        htmls.append(html)
        langs.append(LANGS[i % len(LANGS)])
        ts.append(1704067200_000_000 + i * 1_000_000)  # 2024-01-01 + i sec, µs
        attrs_keys.append(list(amap.keys()))
        attrs_vals.append(list(amap.values()))
        true_lat.append(la)
        true_lon.append(lo)

    return pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array(ts, pa.timestamp("us")),
            "html": pa.array(htmls, pa.binary()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "attrs": pa.array(
                [list(zip(k, v)) for k, v in zip(attrs_keys, attrs_vals)],
                pa.map_(pa.string(), pa.string()),
            ),
            # ground truth for tests only — the pipeline must re-derive these
            "gt_lat": pa.array(true_lat, pa.float64()),
            "gt_lon": pa.array(true_lon, pa.float64()),
            "gt_src": pa.array(src, pa.string()),
        }
    )


# links truth table: attrs + whether the link passes the complex filter.
LINK_ATTR_TABLE: list[dict[str, str]] = [
    {"highway": "residential"},                 # accept
    {"route": "hiking", "bridge": "yes"},       # accept + skip-ele
    {"building": "yes"},                        # reject
    {"highway": "track", "tunnel": "culvert"},  # accept + skip-ele
    {"note": "x"},                              # reject (only removable)
    {"railway": "platform", "bridge": "no"},    # accept, bridge=no -> NO skip
    {"landuse": "grass"},                       # reject
    {"highway": "path", "indoor": "yes"},       # accept + skip-ele
]
LINK_ACCEPTED_MODS = {0, 1, 3, 5, 7}
LINK_SKIP_ELE_MODS = {1, 3, 7}  # value != "no" per skip_ele.rs:23-25


def gen_links(n_pages: int = 4000, n_links: int = 800, seed: int = SEED) -> pa.Table:
    rng = np.random.RandomState(seed + 2)
    link_ids, refs, keys, vals = [], [], [], []
    for i in range(n_links):
        k = 2 + int(rng.randint(0, 7))
        ref_idx = [(i * 13 + j * 97) % n_pages for j in range(k)]
        amap = LINK_ATTR_TABLE[i % len(LINK_ATTR_TABLE)]
        link_ids.append(i)
        refs.append([_url_of(ix, n_pages) for ix in ref_idx])
        keys.append(list(amap.keys()))
        vals.append(list(amap.values()))
    return pa.table(
        {
            "link_id": pa.array(link_ids, pa.int64()),
            "attrs": pa.array(
                [list(zip(k, v)) for k, v in zip(keys, vals)],
                pa.map_(pa.string(), pa.string()),
            ),
            "refs": pa.array(refs, pa.list_(pa.string())),
        }
    )


def _url_of(i: int, n_pages: int) -> str:
    """Reconstruct page i's url without regenerating the table: urls embed
    coords only for mode<=4 rows, so recompute the same way."""
    host = f"site-{i % 20}.example.org"
    if i % 10 <= 4:
        lat, lon = _coords(n_pages, SEED)
        return f"https://{host}/geo/{float(lat[i]):.7f},{float(lon[i]):.7f}/p{i}"
    return f"https://{host}/page/p{i}"


def gen_admin_polygons() -> pa.Table:
    """Reference golden fixtures, src/area.rs:447-564 (lon lat order)."""
    rows = [
        ("SQA", "Squareland",
         "POLYGON((1.5 1.5, 1.5 2.5, 2.5 2.5, 2.5 1.5, 1.5 1.5))"),
        ("REC", "Rectanglia",
         "POLYGON((2.5 1.5, 2.5 2.5, 4.5 2.5, 4.5 1.5, 2.5 1.5))"),
        ("TRI", "Trianglia",
         "MULTIPOLYGON(((5.5 1.5, 7.5 1.5, 6.5 2.5, 5.5 1.5)))"),
        # grid-edge variant: borders exactly on integer cell boundaries
        # (area.rs:448-497 — documented limitation territory)
        ("EDG", "Edgeland",
         "POLYGON((7.0 3.0, 7.0 4.0, 8.0 4.0, 8.0 3.0, 7.0 3.0))"),
    ]
    return pa.table(
        {
            "key": pa.array([r[0] for r in rows]),
            "name": pa.array([r[1] for r in rows]),
            "wkt": pa.array([r[2] for r in rows]),
        }
    )


def raster_value(px: np.ndarray | int, py: np.ndarray | int) -> np.ndarray | float:
    """Deterministic smooth field, exact in float64 — the oracle recomputes
    this arithmetically (value = 100 + px*0.25 + py*0.5)."""
    return 100.0 + np.asarray(px) * 0.25 + np.asarray(py) * 0.5


def gen_raster_tiles() -> pa.Table:
    """Two fine tiles overlapping + one coarse covering both + a gap
    (routing tests analog, geotiff.rs:747-793). Values row-major from the
    top-left origin like a GeoTIFF (geotiff.rs:51-60): px from min_lon,
    py from MAX_lat downward."""
    tiles = [
        # (raster_id, min_lon, min_lat, max_lon, max_lat, pixel, nodata_stride)
        ("fineA", 0.0, 0.0, 2.0, 2.0, 0.01, 97),
        ("fineB", 1.0, 1.0, 3.0, 3.0, 0.01, 0),
        ("coarse", -1.0, -1.0, 9.0, 5.0, 0.05, 0),
    ]
    rows = {k: [] for k in (
        "raster_id", "min_lon", "min_lat", "max_lon", "max_lat",
        "pixel_w", "pixel_h", "width", "height", "nodata", "values")}
    for rid, lo0, la0, lo1, la1, pix, nd_stride in tiles:
        width = round((lo1 - lo0) / pix)
        height = round((la1 - la0) / pix)
        py, px = np.mgrid[0:height, 0:width]
        vals = raster_value(px, py).astype(np.float64)
        if nd_stride:
            flat = vals.reshape(-1)
            flat[::nd_stride] = NODATA
        rows["raster_id"].append(rid)
        rows["min_lon"].append(lo0)
        rows["min_lat"].append(la0)
        rows["max_lon"].append(lo1)
        rows["max_lat"].append(la1)
        rows["pixel_w"].append(pix)
        rows["pixel_h"].append(pix)
        rows["width"].append(width)
        rows["height"].append(height)
        rows["nodata"].append(NODATA)
        rows["values"].append(vals.reshape(-1))
    return pa.table(
        {
            "raster_id": pa.array(rows["raster_id"]),
            "min_lon": pa.array(rows["min_lon"], pa.float64()),
            "min_lat": pa.array(rows["min_lat"], pa.float64()),
            "max_lon": pa.array(rows["max_lon"], pa.float64()),
            "max_lat": pa.array(rows["max_lat"], pa.float64()),
            "pixel_w": pa.array(rows["pixel_w"], pa.float64()),
            "pixel_h": pa.array(rows["pixel_h"], pa.float64()),
            "width": pa.array(rows["width"], pa.int32()),
            "height": pa.array(rows["height"], pa.int32()),
            "nodata": pa.array(rows["nodata"], pa.float64()),
            "values": pa.array([list(v) for v in rows["values"]], pa.list_(pa.float64())),
        }
    )


def gen_projected_tiles() -> pa.Table:
    """One synthetic tile declared in EPSG:3857 (Web Mercator) — exercises
    the projected-raster lookup (geotiff.rs:77-93): WGS84 probe -> CRS
    forward -> affine in CRS units.  Routing bbox stays WGS84
    (lon [0,2) x lat [0,2)); the pixel grid lives in metres with its own
    origin (min_x/max_y) and 1 km pixels.  Values follow raster_value so a
    SQL oracle can re-derive them arithmetically; NoData at flat
    indices % 89 == 0."""
    width = height = 250
    py, px = np.mgrid[0:height, 0:width]
    vals = raster_value(px, py).astype(np.float64)
    flat = vals.reshape(-1)
    flat[::89] = NODATA
    return pa.table(
        {
            "raster_id": pa.array(["merc"]),
            "min_lon": pa.array([0.0], pa.float64()),
            "min_lat": pa.array([0.0], pa.float64()),
            "max_lon": pa.array([2.0], pa.float64()),
            "max_lat": pa.array([2.0], pa.float64()),
            "pixel_w": pa.array([1000.0], pa.float64()),
            "pixel_h": pa.array([1000.0], pa.float64()),
            "width": pa.array([width], pa.int32()),
            "height": pa.array([height], pa.int32()),
            "nodata": pa.array([NODATA], pa.float64()),
            "epsg": pa.array([3857], pa.int32()),
            "min_x": pa.array([0.0], pa.float64()),
            "max_y": pa.array([250000.0], pa.float64()),
            "values": pa.array([list(vals.reshape(-1))], pa.list_(pa.float64())),
        }
    )


def write_fixture_dir(out_dir: str, n_pages: int = 4000) -> dict[str, str]:
    """Materialize all fixture tables as parquet; returns name -> path."""
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "pages": gen_pages(n_pages, SEED),
        "links": gen_links(n_pages, max(n_pages // 5, 8), SEED),
        "admin_polygons": gen_admin_polygons(),
        "raster_tiles": gen_raster_tiles(),
    }
    paths = {}
    for name, tbl in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        paths[name] = path
    return paths
