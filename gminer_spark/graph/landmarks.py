"""Landmark distance sketches — approximate point-to-point distances.

The classic web-graph distance oracle (Potamias et al., "Fast shortest
path distance estimation in large networks"): BFS from a small set of
high-degree LANDMARKS, store each vertex's distance vector, and answer
any pair query (u, v) with the upper bound

    d(u, v)  <=  min_l  d(u, l) + d(l, v)

which is exact whenever some landmark lies on a shortest u-v path (for
hub landmarks on a power-law crawl graph, usually most pairs).

Spark shape: the K landmark BFS runs SIMULTANEOUSLY via the shared
``(s, v)``-keyed level BFS (:func:`gminer_spark.graph.betweenness._bfs_levels`)
— one shuffle per level regardless of K, the same batched-superstep
trick as sampled betweenness.  The sketch is a (id, landmark, dist)
table hash-partitioned by id, so pair estimation is two co-partitioned
joins + a min-combine — no per-query BFS, which is the whole point at
10^12-document scale.

Reference analog: GMiner answers distance-flavoured queries with
per-task BFS pulls (/root/reference/core/task.hpp compute/pull
loop); a landmark sketch replaces the per-query pull storm with one
precomputed table, the right trade at web scale.

Determinism: landmark selection totally ordered by (degree DESC,
id ASC) — the repo's rank-key discipline — so any partitioning picks
the same landmarks and the BFS levels are set-deterministic.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gminer_spark.graph import tables
from gminer_spark.graph.betweenness import _bfs_levels


def select_landmarks(edges: DataFrame, k: int) -> DataFrame:
    """Top-``k`` vertices by undirected degree, ties broken by min id.

    Returns ``(id)``.  High-degree hubs cover the most shortest paths
    (the standard landmark heuristic); the (deg DESC, id ASC) total
    order keeps the choice identical across engines and partitionings.
    """
    sym = tables.symmetrize(edges)
    deg = sym.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("deg"))
    return deg.orderBy(F.col("deg").desc(), F.col("id").asc()).limit(k).select("id")


def landmark_sketch(
    edges: DataFrame, k: int = 8, max_depth: int = 20
) -> DataFrame:
    """(id, landmark, dist) — BFS hop distance from each of the top-k
    degree landmarks, all landmarks in one simultaneous level BFS.

    Rows exist only for reached (landmark, vertex) pairs; unreachable
    pairs are absent (same convention as :mod:`sssp`).  State is
    K x |V| rows worst case — the sketch's storage cost, linear in K.
    """
    sym, levels = _bfs_levels(edges, select_landmarks(edges, k), max_depth)
    sym.unpersist()
    return functools.reduce(
        DataFrame.unionByName,
        [
            lvl.select(
                F.col("s").alias("landmark"),
                F.col("v").alias("id"),
                F.lit(d).cast("long").alias("dist"),
            )
            for d, lvl in enumerate(levels)
        ],
    )


def estimate_distances(sketch: DataFrame, pairs: DataFrame) -> DataFrame:
    """(u, v, est) — landmark upper-bound distance per requested pair.

    ``sketch`` is :func:`landmark_sketch` output; ``pairs`` has columns
    ``(u, v)``.  ``est = min_l d(u,l) + d(l,v)`` over landmarks that
    reach BOTH endpoints; pairs sharing no landmark are absent (on a
    connected crawl core the hub landmarks reach everything).

    Two hash joins on the landmark key + a min-combine — fully
    JVM-side, no BFS at query time.
    """
    a = sketch.select(
        F.col("id").alias("u"), "landmark", F.col("dist").alias("du")
    )
    b = sketch.select(
        F.col("id").alias("v"), "landmark", F.col("dist").alias("dv")
    )
    return (
        pairs.join(a, on="u")
        .join(b, on=["v", "landmark"])
        .groupBy("u", "v")
        .agg(F.min(F.col("du") + F.col("dv")).alias("est"))
    )


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------


def _sketch_ctes(edges_cte: str, sym_cte: str, k: int, depth: int) -> list[str]:
    """Shared CTE chain: landmark pick + unrolled BFS levels l0..lD."""
    ctes = [
        edges_cte.strip(),
        f"{sym_cte.strip().partition(' AS ')[0]} AS MATERIALIZED {sym_cte.strip().partition(' AS ')[2]}",
        """lmdeg AS MATERIALIZED (
    SELECT src AS id, COUNT(*) AS deg FROM sym GROUP BY src)""",
        f"""lm AS MATERIALIZED (
    SELECT id FROM lmdeg ORDER BY deg DESC, id ASC LIMIT {k})""",
        "l0 AS MATERIALIZED (SELECT id AS s, id AS v FROM lm)",
        "vis0 AS MATERIALIZED (SELECT s, v FROM l0)",
    ]
    for d in range(1, depth + 1):
        p = d - 1
        ctes += [
            f"""l{d} AS MATERIALIZED (
    SELECT c.s, c.v FROM (
        SELECT DISTINCT l.s, e.dst AS v
        FROM l{p} l JOIN sym e ON l.v = e.src) c
    LEFT JOIN vis{p} x ON c.s = x.s AND c.v = x.v
    WHERE x.v IS NULL)""",
            f"""vis{d} AS MATERIALIZED (
    SELECT s, v FROM vis{p} UNION ALL SELECT s, v FROM l{d})""",
        ]
    return ctes


def landmark_sketch_oracle_sql(
    edges_cte: str, sym_cte: str, k: int, depth: int
) -> str:
    """Unrolled level-BFS sketch: (landmark, id, dist) rows.

    ``depth`` must be >= the landmark set's eccentricity at the tested
    scale (measured + margin, the repo's cap discipline) — deeper
    levels are empty and contribute nothing.
    """
    union = "\nUNION ALL\n".join(
        f"SELECT s AS landmark, v AS id, CAST({d} AS BIGINT) AS dist FROM l{d}"
        for d in range(depth + 1)
    )
    return (
        "WITH "
        + ",\n".join(_sketch_ctes(edges_cte, sym_cte, k, depth))
        + f"\nSELECT landmark, id, dist FROM ({union})"
    )


def estimate_distances_oracle_sql(
    edges_cte: str,
    sym_cte: str,
    k: int,
    depth: int,
    u_pred: str,
    v_pred: str,
) -> str:
    """Pair estimates over the same unrolled sketch.

    The pair sample crosses two disjoint vertex samples (``u_pred`` /
    ``v_pred`` are predicates over ``id``), keeping u < v.
    """
    union = "\nUNION ALL\n".join(
        f"SELECT s AS landmark, v AS id, CAST({d} AS BIGINT) AS dist FROM l{d}"
        for d in range(depth + 1)
    )
    ctes = _sketch_ctes(edges_cte, sym_cte, k, depth) + [
        f"sk AS MATERIALIZED ({union})",
        "verts AS MATERIALIZED (SELECT DISTINCT src AS id FROM sym)",
        f"""pairsq AS MATERIALIZED (
    SELECT a.id AS u, b.id AS v
    FROM (SELECT id FROM verts WHERE {u_pred}) a
    JOIN (SELECT id FROM verts WHERE {v_pred}) b ON a.id < b.id)""",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT p.u, p.v, MIN(a.dist + b.dist) AS est
FROM pairsq p
JOIN sk a ON a.id = p.u
JOIN sk b ON b.id = p.v AND b.landmark = a.landmark
GROUP BY p.u, p.v"""
    )
