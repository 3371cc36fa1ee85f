"""Gate queries behind the driver contract in ``__spark_entry__.py``: one
module per operator family, each holding its query builders next to their
DuckDB oracle SQL, plus ``common`` for the shared helpers.

The pages columns (lat/lon/attrs) have no physical table: both engines
derive them from ``documents.doc_id`` (ot_spark/pagesview.py).  The Spark
side runs the engine's real operators; each oracle re-derives the expected
rows through an independent SQL formulation.
"""
