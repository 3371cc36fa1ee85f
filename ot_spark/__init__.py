"""ot_spark — a from-scratch PySpark-native spatial filter-enrich-tile engine.

Reimplements the *semantics* of GIScience/osm-transform (reference at
/root/reference, Rust) over an Iceberg-style table of Common-Crawl-style
web pages ``pages(url, warc_ts, html, text, lang)``:

- tag/attribute predicate filtering   (ref: src/handler/filter.rs)
- referenced-id semi-join             (ref: src/handler/collect.rs + IdFilter)
- grid-cell / S2 / H3 tiling          (ref: src/area.rs:371 grid formula)
- point-in-polygon admin enrichment   (ref: src/area.rs AreaHandler)
- raster (elevation) enrichment       (ref: src/handler/geotiff.rs)
- segment densification / way split   (ref: src/handler/interpolate.rs)
- lineage + checkpoint resume         (north_rule requirement)

Architecture is Spark-first: DataFrame/Column algebra everywhere, and one
Python boundary style: Arrow UDFs (``arrow_udf``/``mapInArrow`` over
``pyarrow`` arrays) for the spatial inner loops and the ``webtext/``
kernels, no pandas UDFs, zero per-row Python UDFs, zero RDDs.  See
SURVEY.md for the full mapping.
"""

__version__ = "0.1.0"
