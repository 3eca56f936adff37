"""Triangle counting via degree-oriented wedge joins.

Graph-analytics companion to PageRank (operators/pagerank.py) over the
materialized KG — the clustering/cohesion metric a citation or
co-mention graph is analyzed with. No reference counterpart (the
reference stops at materializing per-doc citation XML,
bin/buildXML.pl:34-66).

Scale design (the reason this is not a naive 3-way self-join):

* Edges are oriented from the LOWER (degree, node) endpoint to the
  higher — a total order, so each triangle {a<b<c} is generated by
  exactly one wedge (a->b, a->c) and closed by exactly one edge b->c.
* Degree orientation bounds every node's out-degree by O(sqrt(2m))
  regardless of its real degree, so the wedge join explodes a hub's
  neighbors on its LOW-degree side only — the classic fix for the
  hub-entity skew that makes the naive wedge join quadratic in hub
  degree. Wedge count is O(m^1.5) worst case, far less on real graphs.
* All three steps are equi-joins (src; then (v, w)) — shuffle-keyed
  hash joins, AQE-coalesced; no cartesian anywhere.

The whole computation is integer/string-only, so the DuckDB oracle
(:func:`triangles_oracle_sql`) is an exact hash match with no rounding
contract needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def undirected_simple(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Canonical undirected simple graph: (a < b), self-loops dropped."""
    return (
        edges.filter(F.col(src) != F.col(dst))
        .select(
            F.least(src, dst).alias("a"),
            F.greatest(src, dst).alias("b"),
        )
        .distinct()
    )


def triangles(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """-> one row per triangle (x, v, w), each triangle exactly once.

    The two shared relations (the canonical undirected edge list and
    the oriented edge list) are localCheckpoint-ed: the
    oriented list is consumed THREE times (both wedge sides + the
    closing join) and Catalyst does not reuse the subplan across them —
    unmaterialized, a 10^9-edge graph would pay the dedup + degree +
    orientation shuffles three times over.
    """
    und = undirected_simple(edges, src, dst).localCheckpoint(eager=True)
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    keyed = und.join(da, "a").join(db, "b")
    # struct comparison is field-by-field; field NAMES must match for
    # Spark to admit the comparison, hence the explicit aliases
    def _key(dcol: str, ncol: str):
        return F.struct(F.col(dcol).alias("d"), F.col(ncol).alias("n"))

    a_first = _key("da", "a") < _key("db", "b")
    o = keyed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("ddeg"),
    )
    o = o.localCheckpoint(eager=True)
    e1 = o.select("src", F.col("dst").alias("v"), F.col("ddeg").alias("dv"))
    e2 = o.select("src", F.col("dst").alias("w"), F.col("ddeg").alias("dw"))
    wedges = e1.join(e2, "src").filter(
        F.struct(F.col("dv").alias("d"), F.col("v").alias("n"))
        < F.struct(F.col("dw").alias("d"), F.col("w").alias("n"))
    )
    closing = o.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    return wedges.join(closing, ["v", "w"]).select(
        F.col("src").alias("x"), "v", "w"
    )


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """-> single row (n_triangles)."""
    return triangles(edges, src, dst).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def triangles_oracle_sql(pairs_sql: str) -> str:
    """The identical computation as ANSI SQL (DuckDB); ``pairs_sql``
    must yield columns (src, dst). Row-value comparisons mirror the
    Spark struct orderings exactly."""
    return f"""
    WITH und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM ({pairs_sql}) WHERE src <> dst
    ),
    deg AS (
      SELECT node, count(*) AS d
      FROM (SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und)
      GROUP BY node
    ),
    o AS (
      SELECT CASE WHEN (da.d, und.a) < (db.d, und.b) THEN und.a ELSE und.b END AS src,
             CASE WHEN (da.d, und.a) < (db.d, und.b) THEN und.b ELSE und.a END AS dst,
             CASE WHEN (da.d, und.a) < (db.d, und.b) THEN db.d ELSE da.d END AS ddeg
      FROM und JOIN deg da ON da.node = und.a JOIN deg db ON db.node = und.b
    ),
    w AS (
      SELECT e1.src, e1.dst AS v, e2.dst AS w
      FROM o e1 JOIN o e2
        ON e1.src = e2.src AND (e1.ddeg, e1.dst) < (e2.ddeg, e2.dst)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_triangles
    FROM w JOIN o ON w.v = o.src AND w.w = o.dst
    """


def node_clustering(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Local clustering coefficient per node: 2*tri(v) / (d(v)*(d(v)-1)).

    Derived from :func:`triangles` (each triangle explodes to its three
    corners — algebraic count, map-side partials) joined against the
    undirected degree. Integer counts + one exact double division, so
    the oracle (:func:`node_clustering_oracle_sql`) hash-matches with a
    single final rounding. Nodes with degree < 2 are excluded (the
    coefficient is undefined)."""
    und = undirected_simple(edges, src, dst).localCheckpoint(eager=True)
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    tri = triangles(und, src="a", dst="b")
    per_node = (
        tri.select(F.explode(F.array("x", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    return (
        deg.filter(F.col("d") >= 2)
        .join(per_node, "node", "left")
        .select(
            "node",
            F.col("d").cast("bigint").alias("degree"),
            F.coalesce("n_tri", F.lit(0)).cast("bigint").alias("n_tri"),
            F.round(
                F.lit(2.0)
                * F.coalesce("n_tri", F.lit(0)).cast("double")
                / (F.col("d").cast("double") * (F.col("d").cast("double") - 1.0)),
                6,
            ).alias("coef"),
        )
    )


def node_clustering_oracle_sql(pairs_sql: str) -> str:
    """node_clustering as ANSI SQL (DuckDB) — shares the triangle CTE
    body with :func:`triangles_oracle_sql`."""
    return f"""
    WITH und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM ({pairs_sql}) WHERE src <> dst
    ),
    deg AS (
      SELECT node, count(*) AS d
      FROM (SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und)
      GROUP BY node
    ),
    o AS (
      SELECT CASE WHEN (da.d, und.a) < (db.d, und.b) THEN und.a ELSE und.b END AS src,
             CASE WHEN (da.d, und.a) < (db.d, und.b) THEN und.b ELSE und.a END AS dst,
             CASE WHEN (da.d, und.a) < (db.d, und.b) THEN db.d ELSE da.d END AS ddeg
      FROM und JOIN deg da ON da.node = und.a JOIN deg db ON db.node = und.b
    ),
    wedge AS (
      SELECT e1.src, e1.dst AS v, e2.dst AS w
      FROM o e1 JOIN o e2
        ON e1.src = e2.src AND (e1.ddeg, e1.dst) < (e2.ddeg, e2.dst)
    ),
    tri AS (
      SELECT wedge.src AS x, wedge.v, wedge.w
      FROM wedge JOIN o ON wedge.v = o.src AND wedge.w = o.dst
    ),
    per_node AS (
      SELECT node, count(*) AS n_tri
      FROM (SELECT x AS node FROM tri UNION ALL SELECT v FROM tri
            UNION ALL SELECT w FROM tri)
      GROUP BY node
    )
    SELECT deg.node,
           CAST(deg.d AS BIGINT) AS degree,
           CAST(coalesce(per_node.n_tri, 0) AS BIGINT) AS n_tri,
           round(2.0 * CAST(coalesce(per_node.n_tri, 0) AS DOUBLE)
                 / (CAST(deg.d AS DOUBLE) * (CAST(deg.d AS DOUBLE) - 1.0)), 6) AS coef
    FROM deg LEFT JOIN per_node ON deg.node = per_node.node
    WHERE deg.d >= 2
    """
