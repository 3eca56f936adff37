"""2-hop neighborhood reach with hub-capped expansion.

The traversal member of the graph-analytics family (PageRank =
stationary mass, triangles/clustering = cohesion, reach = influence
radius). No reference counterpart (bin/buildXML.pl stops at per-doc
citation materialization).

Scale design: the naive neighbor-of-neighbor join is Sum(deg(m)^2)
over intermediate nodes m — quadratic in hub degree, the same blow-up
the wedge join in operators/triangles.py dodges with degree
orientation. Here the standard fix is HUB SUPPRESSION: intermediate
nodes with degree > ``hub_cap`` are not expanded. The cap is part of
the operator's semantics (not a silent truncation): the DuckDB oracle
restates it, so the capped production shape is what the hash gate
checks — the same discipline as the capped dedup blocking paths
(operators/dedup.py). At 10^12 edges, exact distinct-counting itself
is the bottleneck; swap the final distinct for HyperLogLog frontier
sketches (HyperBall) and this operator's join structure stays the same.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pdfmef_spark.operators.triangles import undirected_simple


def two_hop_reach(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    hub_cap: int | None = None,
    approx_rsd: float | None = None,
) -> DataFrame:
    """-> (node, reach2): distinct nodes within <= 2 hops, self excluded.

    Hop 1 always counts every neighbor; ``hub_cap`` only limits which
    INTERMEDIATE nodes are expanded for hop 2 (a hub still appears in
    its neighbors' reach — it just doesn't bridge them).

    ``approx_rsd`` switches the final distinct-count to a HyperLogLog++
    sketch (`approx_count_distinct` with that relative standard
    deviation) — the HyperBall-style 100 TB path: the exact variant
    must SHUFFLE every (node, neighbor) pair to dedup before counting,
    the sketch variant partially aggregates fixed-size HLL registers
    map-side, so the shuffle carries O(nodes x register_bytes)
    regardless of neighborhood size. Tolerance-gated in pytest; the
    exact variant stays the hash-oracled one."""
    und = undirected_simple(edges, src, dst).localCheckpoint(eager=True)
    sym = und.select(F.col("a").alias("node"), F.col("b").alias("nb")).unionAll(
        und.select(F.col("b").alias("node"), F.col("a").alias("nb"))
    )
    one = sym
    mid = sym
    if hub_cap is not None:
        deg = sym.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
        mid = sym.join(
            deg.filter(F.col("d") <= hub_cap).select("node"), "node", "left_semi"
        )
    # expand: x -> m (any edge) -> y, where m passed the cap
    x = one.select(F.col("node"), F.col("nb").alias("m"))
    y = mid.select(F.col("node").alias("m"), F.col("nb").alias("nb2"))
    two = x.join(y, "m").select("node", F.col("nb2").alias("nb"))
    both = one.unionAll(two).filter(F.col("node") != F.col("nb"))
    if approx_rsd is not None:
        # no pre-dedup: HLL absorbs duplicate neighbors inside the sketch
        return both.groupBy("node").agg(
            F.approx_count_distinct("nb", rsd=approx_rsd)
            .cast("bigint")
            .alias("reach2")
        )
    return (
        both.distinct()
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("reach2"))
    )


def two_hop_reach_oracle_sql(pairs_sql: str, hub_cap: int | None = None) -> str:
    """The identical computation (cap included) as ANSI SQL (DuckDB)."""
    cap_sql = (
        """mid AS (
          SELECT s.* FROM sym s
          WHERE s.node IN (SELECT node FROM sym GROUP BY node
                           HAVING count(*) <= {cap})
        )""".format(cap=hub_cap)
        if hub_cap is not None
        else "mid AS (SELECT * FROM sym)"
    )
    return f"""
    WITH und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM ({pairs_sql}) WHERE src <> dst
    ),
    sym AS (
      SELECT a AS node, b AS nb FROM und
      UNION ALL SELECT b AS node, a AS nb FROM und
    ),
    {cap_sql},
    hop2 AS (
      SELECT x.node, y.nb AS nb
      FROM sym x JOIN mid y ON x.nb = y.node
    ),
    reach AS (
      SELECT DISTINCT node, nb
      FROM (SELECT node, nb FROM sym UNION ALL SELECT node, nb FROM hop2)
      WHERE node <> nb
    )
    SELECT node, CAST(count(*) AS BIGINT) AS reach2
    FROM reach GROUP BY node
    """
