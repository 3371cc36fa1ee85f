"""Seeded pages/links inputs for the benchmark, written with DuckDB.

The columns follow ``ot_spark.pagesview``: lat/lon/attrs come from the SQL
twins of ``lat_col``/``lon_col``/``attrs_col`` (``LAT100_SQL``,
``LON100_SQL``, ``ATTR_RULES``), which the oracle gate already holds equal
to the Spark helpers.  The url/text/html shape is that of
``ot_spark.benchdata.pages_range_df``.  Generating in DuckDB instead of
Spark keeps the measured JVM cold: no Spark job runs before the timed
set-up, whether the input came from the cache or not.

doc_ids are a contiguous block whose start is derived from the seed, so
two seeds give different urls, coordinates and attrs at the same size.
Files are cached under the checkout, keyed by generator version, seed and
size.
"""

from __future__ import annotations

import os
import shutil
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ot_spark import pagesview

GEN_VERSION = 1
# doc_id blocks are SEED_STRIDE apart; doc_id * 104729 must stay inside a
# signed 64-bit integer in both engines, so the start stays below ~1e13.
SEED_STRIDE = 10_000_000
SEED_SLOTS = 100_000
CACHE_KEEP = 6  # newest input dirs kept; older ones are evicted
LANGS = ["en", "de", "nl", "fr", "es", "it", "pt", "pl"]
# links: link j references pages 8j, 8j+1, 8j+2 and 8j+5 of the block;
# j % 9 == 0 carries bridge=yes (a skip-elevation link), j % 9 == 4
# tunnel=no (a skip key whose value does not flag).
LINK_STRIDE = 8
LINK_REFS = (0, 1, 2, 5)
LINK_RULES = list(pagesview.ATTR_RULES) + [("bridge", "yes", 9, 0), ("tunnel", "no", 9, 4)]


def first_doc_id(seed: int) -> int:
    return (seed % SEED_SLOTS) * SEED_STRIDE


def attrs_array(ids: np.ndarray, rules=pagesview.ATTR_RULES) -> pa.MapArray:
    """map<string,string> per id: entry (k, v) iff id % m == r, in rule
    order -- the same rule table ``pagesview.attrs_col`` evaluates."""
    masks = np.stack([ids % m == r for (_k, _v, m, r) in rules], axis=1)
    rows, rule_idx = np.nonzero(masks)
    offsets = np.zeros(len(ids) + 1, dtype=np.int32)
    np.cumsum(np.bincount(rows, minlength=len(ids)), out=offsets[1:])
    keys = np.array([k for (k, _v, _m, _r) in rules], dtype=object)[rule_idx]
    vals = np.array([v for (_k, v, _m, _r) in rules], dtype=object)[rule_idx]
    return pa.MapArray.from_arrays(
        pa.array(offsets), pa.array(keys, pa.string()), pa.array(vals, pa.string())
    )


def _pages_sql(lo: int, n: int) -> str:
    lat = f"(CAST({pagesview.LAT100_SQL} AS DOUBLE) / 100.0)"
    lon = f"(CAST({pagesview.LON100_SQL} AS DOUBLE) / 100.0)"
    host = "printf('site-%d.example.org', doc_id % 20)"
    base = "printf('crawl body %d spark grid tile raster page filter enrich', doc_id)"
    langs = ", ".join(f"'{x}'" for x in LANGS)
    return f"""
        SELECT doc_id,
          CASE WHEN doc_id % 10 <= 4
               THEN printf('https://%s/geo/%.7f,%.7f/p%d', {host}, {lat}, {lon}, doc_id)
               ELSE printf('https://%s/page/p%d', {host}, doc_id) END AS url,
          TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id % 86400) AS warc_ts,
          encode(printf('<html><body>%d</body></html>', doc_id)) AS html,
          CASE WHEN doc_id % 10 BETWEEN 5 AND 7
               THEN printf('%s coords: %.7f, %.7f', {base}, {lat}, {lon})
               ELSE {base} END AS text,
          [{langs}][doc_id % 8 + 1] AS lang
        FROM range({lo}, {lo + n}) t(doc_id)
        ORDER BY doc_id
    """


def _links_sql(lo: int) -> str:
    refs = ", ".join(str(r) for r in LINK_REFS)
    return f"""
        SELECT {lo} + (doc_id - {lo}) // {LINK_STRIDE} AS link_id,
               list(url ORDER BY doc_id) AS refs
        FROM pages
        WHERE (doc_id - {lo}) % {LINK_STRIDE} IN ({refs})
        GROUP BY 1
        ORDER BY 1
    """


def _with_attrs(tbl: pa.Table, id_col: str, rules) -> pa.Table:
    ids = tbl.column(id_col).to_numpy()
    return tbl.append_column("attrs", attrs_array(ids, rules))


def make_inputs(
    cache_root: str, seed: int, n_pages: int, with_links: bool, files: int = 8
) -> dict:
    """Return {'pages', 'links', 'first_doc_id', 'n_pages', 'cached'}; pages
    are written as ``files`` parquet files so the scan is splittable."""
    sweep_stale_tmp(cache_root)
    lo = first_doc_id(seed)
    key = f"v{GEN_VERSION}-seed{seed}-n{n_pages}-{'links' if with_links else 'pages'}"
    out = os.path.join(cache_root, key)
    info = {
        "pages": os.path.join(out, "pages"),
        "links": os.path.join(out, "links") if with_links else None,
        "first_doc_id": lo,
        "n_pages": n_pages,
        "cached": os.path.isdir(out),
    }
    if info["cached"]:
        os.utime(out)
        return info
    os.makedirs(cache_root, exist_ok=True)
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute(f"CREATE TEMP TABLE pages AS {_pages_sql(lo, n_pages)}")
        pages = _with_attrs(con.execute("SELECT * FROM pages").arrow(), "doc_id", pagesview.ATTR_RULES)
        os.makedirs(f"{tmp}/pages")
        step = -(-n_pages // files)
        for i, start in enumerate(range(0, n_pages, step)):
            pq.write_table(pages.slice(start, step), f"{tmp}/pages/part-{i:03d}.parquet")
        if with_links:
            os.makedirs(f"{tmp}/links")
            links = _with_attrs(con.execute(_links_sql(lo)).arrow(), "link_id", LINK_RULES)
            pq.write_table(links, f"{tmp}/links/part-000.parquet")
    finally:
        con.close()
    os.rename(tmp, out)
    _evict(cache_root)
    return info


def _evict(cache_root: str) -> None:
    entries = sorted(
        (os.path.getmtime(p), p)
        for p in (os.path.join(cache_root, d) for d in os.listdir(cache_root))
        if os.path.isdir(p) and ".tmp-" not in p
    )
    for _, path in entries[:-CACHE_KEEP]:
        shutil.rmtree(path, ignore_errors=True)


def sweep_stale_tmp(cache_root: str, older_than_s: float = 3600.0) -> None:
    """Remove half-written input dirs a killed run left behind."""
    if not os.path.isdir(cache_root):
        return
    now = time.time()
    for d in os.listdir(cache_root):
        p = os.path.join(cache_root, d)
        if ".tmp-" in d and now - os.path.getmtime(p) > older_than_s:
            shutil.rmtree(p, ignore_errors=True)


def input_properties(info: dict, area_index) -> dict:
    """The input properties the pipeline's behaviour depends on, computed
    in DuckDB from the written files."""
    from ot_spark.cells import grid_cell_sql

    lat, lon = pagesview.LAT_SQL, pagesview.LON_SQL
    has_coords = "(doc_id % 10 <= 7)"
    cell = f"(CASE WHEN {has_coords} THEN {grid_cell_sql(lat, lon, area_index.tile_size)} END)"
    border = ", ".join(str(c) for c in sorted(area_index.border_cells)) or "NULL"
    single = ", ".join(str(c) for c in sorted(area_index.single_cells)) or "NULL"
    con = duckdb.connect()
    try:
        row = con.execute(
            f"""SELECT count(*), avg(CAST({has_coords} AS INT)),
                  avg(CAST({pagesview.complex_filter_sql()} AS INT)),
                  avg(CAST(coalesce({cell} IN ({border}), false) AS INT)),
                  avg(CAST(coalesce({cell} IN ({single}), false) AS INT))
                FROM read_parquet('{info["pages"]}/*.parquet')"""
        ).fetchone()
        props = {
            "rows": row[0],
            "coords_share": row[1],
            "filter_selectivity": row[2],
            "border_cell_share": row[3],
            "single_cell_share": row[4],
        }
        if info["links"]:
            n_links, n_refs = con.execute(
                f"SELECT count(*), sum(len(refs)) "
                f"FROM read_parquet('{info['links']}/*.parquet')"
            ).fetchone()
            props["links_per_page"] = n_links / row[0]
            props["refs_per_link"] = n_refs / n_links
        return props
    finally:
        con.close()
