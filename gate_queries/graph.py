"""Link-graph gate queries over ``graph.synthetic_edges``: PageRank, HITS,
PPR, BFS frontier, triangles, co-citation, label propagation and k-core."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gate_queries.common import _read, _table_rows

# Run sizes of the graph queries; each builder and its oracle read the same one.
PAGERANK_ITERS = 3
FRONTIER_DEPTH = 3
HITS_ITERS = 2
PPR_ITERS = 3
COCITATION_CAP = 20
LABEL_PROP_ITERS = 3
KCORE_K, KCORE_ROUNDS = 3, 3


def _graph(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame, int]:
    """(documents, their ``synthetic_edges`` link graph, document count):
    the input every builder here runs over."""
    from ot_spark.graph import synthetic_edges

    docs = _read(spark, sf_dir, "documents")
    n = _table_rows(spark, sf_dir, "documents")
    return docs, synthetic_edges(docs, n), n


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank over the deterministic link graph (round 6;
    ot_spark/graph.py): BIGINT ranks scaled by 1e12, integer-division
    steps so the iteration is exactly order-independent — the oracle
    unrolls the 3 iterations as CTEs and matches bit-for-bit, no float
    tolerance.  Per iteration: one join + one groupBy — the
    connected-components shuffle shape at 10^12-edge scale."""
    from ot_spark.graph import pagerank_fixed

    docs, edges, n = _graph(spark, sf_dir)
    ranks = pagerank_fixed(
        edges, docs.select(F.col("doc_id").alias("node")), n, PAGERANK_ITERS
    )
    return ranks.orderBy(F.desc("rank"), F.asc("node")).limit(20)


def pagerank_oracle_sql() -> str:
    scale = 10**12
    parts = ["""
WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS c FROM documents),
e AS (
  SELECT doc_id AS src, (doc_id*3+1) % nn.c AS dst, 1 + doc_id % 3 AS d
  FROM documents, nn
  UNION ALL
  SELECT doc_id, (doc_id*7+2) % nn.c, 1 + doc_id % 3 FROM documents, nn
  WHERE doc_id % 3 >= 1
  UNION ALL
  SELECT doc_id, (doc_id*13+3) % nn.c, 1 + doc_id % 3 FROM documents, nn
  WHERE doc_id % 3 = 2
),
r0 AS (SELECT doc_id AS node, __SCALE__ // nn.c AS rank FROM documents, nn)""".replace(
        "__SCALE__", str(scale))]
    for k in range(1, PAGERANK_ITERS + 1):
        parts.append(f""",
s{k} AS (
  SELECT e.dst AS node, CAST(sum(r{k - 1}.rank // e.d) AS BIGINT) AS s
  FROM e JOIN r{k - 1} ON e.src = r{k - 1}.node GROUP BY e.dst
),
r{k} AS (
  SELECT d.doc_id AS node,
         CAST((15 * ({scale} // nn.c) // 100)
              + (85 * coalesce(s{k}.s, 0)) // 100 AS BIGINT) AS rank
  FROM documents d CROSS JOIN nn LEFT JOIN s{k} ON s{k}.node = d.doc_id
)""")
    parts.append(f"""
SELECT node, rank FROM r{PAGERANK_ITERS} ORDER BY rank DESC, node ASC LIMIT 20
""")
    return "".join(parts)


# Deterministic link-graph CTE shared by the crawl-frontier oracle — the
# same variable-out-degree edge rule as graph.synthetic_edges (and the
# pagerank oracle, which predates this fragment and inlines it).
_EDGES_CTE_SQL = """
nn AS (SELECT CAST(count(*) AS BIGINT) AS c FROM documents),
e AS (
  SELECT doc_id AS src, (doc_id*3+1) % nn.c AS dst FROM documents, nn
  UNION ALL
  SELECT doc_id, (doc_id*7+2) % nn.c FROM documents, nn WHERE doc_id % 3 >= 1
  UNION ALL
  SELECT doc_id, (doc_id*13+3) % nn.c FROM documents, nn WHERE doc_id % 3 = 2
)"""


def q_crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier BFS (round 6; ot_spark/graph.py::bfs_depth): minimum
    link distance from the seed list (doc_id % 97 == 0) within 3 hops —
    the breadth-limited frontier expansion every crawl scheduler runs.
    Frontier-delta joins: round k shuffles only the nodes settled in
    round k-1, never the whole node set.  Exactly integer (depths are
    literals, reachability is set algebra), so the unrolled-CTE DuckDB
    oracle matches bit-for-bit."""
    from ot_spark.graph import bfs_depth

    docs, edges, _ = _graph(spark, sf_dir)
    seeds = docs.where(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("node")
    )
    return bfs_depth(edges, seeds, FRONTIER_DEPTH)


def crawl_frontier_oracle_sql() -> str:
    parts = [
        "WITH ", _EDGES_CTE_SQL, """,
d0 AS (SELECT doc_id AS node, 0 AS depth FROM documents WHERE doc_id % 97 = 0)""",
    ]
    union = ["SELECT node, depth FROM d0"]
    for k in range(1, FRONTIER_DEPTH + 1):
        prev_union = " UNION ALL ".join(
            f"SELECT node FROM d{j}" for j in range(k)
        )
        parts.append(f""",
c{k} AS (SELECT DISTINCT e.dst AS node FROM e JOIN d{k - 1} ON e.src = d{k - 1}.node),
d{k} AS (
  SELECT node, {k} AS depth FROM c{k}
  WHERE node NOT IN ({prev_union})
)""")
        union.append(f"SELECT node, depth FROM d{k}")
    parts.append("\n" + "\nUNION ALL ".join(union))
    return "".join(parts)


def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities over the deterministic link graph (round 6;
    ot_spark/graph.py::hits_fixed): integer scores with per-round
    max-normalization (x * scale DIV max) so the two fixed points are
    exactly order-independent; top-20 authorities against a bit-equal
    unrolled-CTE oracle.  Per round: two join+groupBy pairs plus two
    one-row max broadcasts — the published algorithm's shuffle floor."""
    from ot_spark.graph import hits_fixed

    docs, edges, _ = _graph(spark, sf_dir)
    out = hits_fixed(
        edges, docs.select(F.col("doc_id").alias("node")), HITS_ITERS
    )
    return out.orderBy(
        F.desc("authority"), F.desc("hub"), F.asc("node")
    ).limit(20)


def hits_oracle_sql() -> str:
    from ot_spark.graph import HITS_SCALE

    parts = ["WITH ", _EDGES_CTE_SQL, f""",
nodes AS (SELECT doc_id AS node FROM documents),
h0 AS (SELECT node, CAST({HITS_SCALE} AS BIGINT) AS hub FROM nodes)"""]
    for k in range(1, HITS_ITERS + 1):
        parts.append(f""",
ar{k} AS (
  SELECT e.dst AS node, CAST(sum(h{k - 1}.hub) AS BIGINT) AS a
  FROM e JOIN h{k - 1} ON e.src = h{k - 1}.node GROUP BY e.dst
),
a{k} AS (
  SELECT n.node,
         CAST(coalesce(ar{k}.a, 0) * {HITS_SCALE}
              // (SELECT greatest(max(a), 1) FROM ar{k}) AS BIGINT) AS authority
  FROM nodes n LEFT JOIN ar{k} ON n.node = ar{k}.node
),
hr{k} AS (
  SELECT e.src AS node, CAST(sum(a{k}.authority) AS BIGINT) AS h
  FROM e JOIN a{k} ON e.dst = a{k}.node GROUP BY e.src
),
h{k} AS (
  SELECT n.node,
         CAST(coalesce(hr{k}.h, 0) * {HITS_SCALE}
              // (SELECT greatest(max(h), 1) FROM hr{k}) AS BIGINT) AS hub
  FROM nodes n LEFT JOIN hr{k} ON n.node = hr{k}.node
)""")
    parts.append(f"""
SELECT a{HITS_ITERS}.node, authority, hub
FROM a{HITS_ITERS} JOIN h{HITS_ITERS} ON a{HITS_ITERS}.node = h{HITS_ITERS}.node
ORDER BY authority DESC, hub DESC, a{HITS_ITERS}.node ASC LIMIT 20
""")
    return "".join(parts)


def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the deterministic link graph (round
    6; ot_spark/graph.py::triangles): degree-ordered wedge closing — the
    Suri-Vassilvitskii shape that bounds the mega-host fan-out — with
    top-20 nodes checked against a DuckDB oracle that re-derives the
    canonicalization, orientation, and wedge join in SQL.  Pure set
    algebra on BIGINTs: bit-exact across engines."""
    from ot_spark.graph import triangles

    _, edges, _ = _graph(spark, sf_dir)
    out = triangles(edges)
    return out.orderBy(F.desc("n_triangles"), F.asc("node")).limit(20)


def triangles_oracle_sql() -> str:
    return "".join(["WITH ", _EDGES_CTE_SQL, """,
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM e WHERE src <> dst
),
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT a AS node FROM und UNION ALL SELECT b FROM und
  ) GROUP BY node
),
o AS (
  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
              THEN u.a ELSE u.b END AS u,
         CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
              THEN u.b ELSE u.a END AS v
  FROM und u JOIN deg da ON u.a = da.node JOIN deg db ON u.b = db.node
),
tri AS (
  SELECT e1.u AS x, e1.v AS y, e2.v AS z
  FROM o e1 JOIN o e2 ON e1.v = e2.u
  WHERE EXISTS (SELECT 1 FROM o e3 WHERE e3.u = e1.u AND e3.v = e2.v)
)
SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
FROM (
  SELECT x AS node FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
)
GROUP BY node
ORDER BY n_triangles DESC, node ASC LIMIT 20
"""])


def q_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (round 6; ot_spark/graph.py::ppr_fixed):
    teleport mass returns only to the seed list (doc_id % 97 == 0) —
    the TrustRank/seed-expansion primitive.  Same integer fixed-point
    and shuffle shape as pagerank; top-20 against a bit-equal
    unrolled-CTE oracle."""
    from ot_spark.graph import ppr_fixed

    docs, edges, _ = _graph(spark, sf_dir)
    nodes = docs.select(F.col("doc_id").alias("node"))
    seeds = docs.where(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("node")
    )
    out = ppr_fixed(edges, nodes, seeds, PPR_ITERS)
    return out.orderBy(F.desc("rank"), F.asc("node")).limit(20)


def ppr_oracle_sql() -> str:
    from ot_spark.graph import DAMPING_PCT

    s = 10**12
    parts = ["WITH ", _EDGES_CTE_SQL, f""",
qn AS (SELECT CAST(count(*) AS BIGINT) AS c FROM documents WHERE doc_id % 97 = 0),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY src),
nq AS (SELECT doc_id AS node,
              CASE WHEN doc_id % 97 = 0 THEN 1 ELSE 0 END AS isq
       FROM documents),
r0 AS (SELECT node, CAST(isq * ({s} // qn.c) AS BIGINT) AS rank
       FROM nq CROSS JOIN qn)"""]
    for k in range(1, PPR_ITERS + 1):
        parts.append(f""",
s{k} AS (
  SELECT e.dst AS node, CAST(sum(r{k - 1}.rank // deg.d) AS BIGINT) AS s
  FROM e JOIN r{k - 1} ON e.src = r{k - 1}.node JOIN deg ON e.src = deg.src
  GROUP BY e.dst
),
r{k} AS (
  SELECT nq.node,
         CAST(nq.isq * ({100 - DAMPING_PCT} * ({s} // qn.c) // 100)
              + ({DAMPING_PCT} * coalesce(s{k}.s, 0)) // 100 AS BIGINT) AS rank
  FROM nq CROSS JOIN qn LEFT JOIN s{k} ON s{k}.node = nq.node
)""")
    parts.append(f"""
SELECT node, rank FROM r{PPR_ITERS} ORDER BY rank DESC, node ASC LIMIT 20
""")
    return "".join(parts)


def q_cocitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-citation host similarity (round 6; ot_spark/graph.py::
    cocitation): hosts linked by the same source pages, Jaccard over
    capped per-source target sets — the "related domains" panel.  Pair
    fan-out is bounded by the row_number cap BEFORE the self-join (the
    LSH max_bucket discipline); degree lookups broadcast.  Counts are
    BIGINTs, the one float rounds to 6 dp — bit-stable oracle."""
    from ot_spark.graph import cocitation

    _, edges, _ = _graph(spark, sf_dir)
    hosted = edges.select("src", (F.col("dst") % 50).alias("dst"))
    return cocitation(hosted, COCITATION_CAP)


def cocitation_oracle_sql() -> str:
    return "".join(["WITH ", _EDGES_CTE_SQL, f""",
he AS (SELECT DISTINCT src, dst % 50 AS dst FROM e),
capped AS (
  SELECT src, dst FROM (
    SELECT src, dst,
           row_number() OVER (PARTITION BY src ORDER BY dst) AS rn
    FROM he
  ) WHERE rn <= {COCITATION_CAP}
),
deg AS (SELECT dst, CAST(count(*) AS BIGINT) AS d FROM capped GROUP BY dst),
pairs AS (
  SELECT x.dst AS a, y.dst AS b, CAST(count(*) AS BIGINT) AS common
  FROM capped x JOIN capped y ON x.src = y.src AND x.dst < y.dst
  GROUP BY x.dst, y.dst HAVING count(*) >= 2
)
SELECT a, b, common, da.d AS deg_a, db.d AS deg_b,
       round(CAST(common AS DOUBLE) / (da.d + db.d - common), 6) AS jaccard
FROM pairs JOIN deg da ON pairs.a = da.dst JOIN deg db ON pairs.b = db.dst
"""])


def q_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (round 6; ot_spark/graph.py::
    label_prop): host-community labels after 3 deterministic rounds —
    highest-neighbour-count label, ties to the smallest.  Per round one
    co-partitioned join plus two partial-aggregable groupBys (count,
    then max-struct argmax — no window, no per-node sort).  Pure
    integer, so the unrolled-CTE oracle matches bit-for-bit."""
    from ot_spark.graph import label_prop

    docs, edges, _ = _graph(spark, sf_dir)
    return label_prop(
        edges, docs.select(F.col("doc_id").alias("node")), LABEL_PROP_ITERS
    )


def label_prop_oracle_sql() -> str:
    parts = ["WITH ", _EDGES_CTE_SQL, """,
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM e WHERE src <> dst
),
nbr AS (SELECT a AS v, b AS u FROM und UNION ALL SELECT b, a FROM und),
l0 AS (SELECT doc_id AS node, CAST(doc_id AS BIGINT) AS label FROM documents)"""]
    for k in range(1, LABEL_PROP_ITERS + 1):
        parts.append(f""",
c{k} AS (
  SELECT n.v, l.label, count(*) AS c
  FROM nbr n JOIN l{k - 1} l ON n.u = l.node GROUP BY n.v, l.label
),
w{k} AS (
  SELECT v, label FROM (
    SELECT v, label,
           row_number() OVER (PARTITION BY v ORDER BY c DESC, label ASC) AS rn
    FROM c{k}
  ) WHERE rn = 1
),
l{k} AS (
  SELECT p.node, CAST(coalesce(w{k}.label, p.label) AS BIGINT) AS label
  FROM l{k - 1} p LEFT JOIN w{k} ON p.node = w{k}.v
)""")
    parts.append(f"""
SELECT node, label FROM l{LABEL_PROP_ITERS}
""")
    return "".join(parts)


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (round 6; ot_spark/graph.py::kcore): survivors of
    3 remove-degree-<-3 rounds over the undirected link graph, with the
    degree as of the last peel.  One degree agg + two semi-joins per
    round; the edge set only shrinks.  Pure set algebra on BIGINTs —
    the unrolled-CTE oracle is bit-exact."""
    from ot_spark.graph import kcore

    _, edges, _ = _graph(spark, sf_dir)
    return kcore(edges, KCORE_K, KCORE_ROUNDS)


def kcore_oracle_sql() -> str:
    parts = ["WITH ", _EDGES_CTE_SQL, """,
u0 AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM e WHERE src <> dst
)"""]
    for r in range(1, KCORE_ROUNDS + 1):
        parts.append(f""",
d{r} AS (
  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
    SELECT a AS node FROM u{r - 1} UNION ALL SELECT b FROM u{r - 1}
  ) GROUP BY node
),
a{r} AS (SELECT node FROM d{r} WHERE degree >= {KCORE_K}),
u{r} AS (
  SELECT u.a, u.b FROM u{r - 1} u
  WHERE u.a IN (SELECT node FROM a{r}) AND u.b IN (SELECT node FROM a{r})
)""")
    parts.append(f"""
SELECT node, degree FROM d{KCORE_ROUNDS} WHERE degree >= {KCORE_K}
""")
    return "".join(parts)
