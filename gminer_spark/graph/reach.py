"""Directed reachability and bow-tie decomposition.

The classic web-structure analysis (Broder et al., "Graph structure
in the web", 2000): relative to a pivot vertex, the directed graph
splits into the pivot's strongly-connected component (forward AND
backward reachable), IN (backward only), OUT (forward only), and
OTHER (tendrils/disconnected).  On a Common-Crawl link graph this is
the first diagnostic anyone runs after PageRank.

Spark shape: two frontier BFS loops over the directed edge table, each
a :func:`superstep.grow` — per level one equi-join + anti-join against
the earlier levels and one count, stopping at an empty level.  The
classify step is two membership left-joins.  The DuckDB witness needs
no unroll caps: directed reachability is a plain recursive CTE.
"""

from __future__ import annotations

import functools
import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gminer_spark.graph import tables
from gminer_spark.graph.superstep import grow


def reachable(
    edges: DataFrame, sources: DataFrame, max_iter: int | None = None
) -> DataFrame:
    """(id) — vertices reachable from ``sources(id)`` along DIRECTED
    ``edges(src, dst)``, sources included.

    Runs until the frontier is empty (vote-to-halt) — level count is
    bounded by the graph's directed diameter, so no iteration cap is
    needed for correctness.  ``max_iter`` is an optional guard for
    callers that want a hard bound; hitting it warns, because a
    truncated reach set silently misclassifies bow-tie regions
    (ADVICE r3)."""

    def step(frontier: DataFrame) -> DataFrame:
        return (
            edges.join(frontier.withColumnRenamed("id", "src"), on="src")
            .select(F.col("dst").alias("id"))
            .distinct()
        )

    init = sources.select(F.col("id").cast("long").alias("id")).distinct()
    levels, _, converged = grow(init.localCheckpoint(), step, ["id"], max_iter)
    if not converged:
        warnings.warn(
            f"reachable(): frontier still non-empty after max_iter="
            f"{max_iter} levels — reach set is TRUNCATED",
            stacklevel=2,
        )
    return functools.reduce(DataFrame.unionByName, levels)


def bowtie(
    edges: DataFrame,
    pivot: int | None = None,
    pivot_strategy: str = "min_id",
) -> DataFrame:
    """(id, region) — bow-tie classes relative to ``pivot``: SCC / IN /
    OUT / OTHER.

    ``pivot_strategy`` (used when ``pivot`` is None): ``"min_id"``
    (default, oracle-friendly) or ``"max_degree"`` — the vertex with
    the highest total degree in the directed view (min-id tie-break),
    which on a web graph almost surely sits inside the giant SCC
    (Broder's intended anchoring)."""
    spark = edges.sparkSession
    e = (
        edges.select("src", "dst")
        .distinct()
        .repartition(tables.shuffle_partitions(spark), "src")
        .persist()
    )
    verts = tables.vertices(e).localCheckpoint()
    if pivot is None:
        if pivot_strategy == "max_degree":
            deg = (
                e.select(F.col("src").alias("id"))
                .unionAll(e.select(F.col("dst").alias("id")))
                .groupBy("id")
                .agg(F.count("*").alias("deg"))
            )
            pivot = (
                deg.orderBy(F.col("deg").desc(), F.col("id").asc())
                .first()["id"]
            )
        elif pivot_strategy == "min_id":
            pivot = verts.agg(F.min("id")).first()[0]
        else:
            raise ValueError(f"unknown pivot_strategy: {pivot_strategy!r}")
    src_df = spark.createDataFrame([(int(pivot),)], "id long")
    fwd = reachable(e, src_df).withColumn("f", F.lit(True))
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    bwd = reachable(rev, src_df).withColumn("b", F.lit(True))
    out = (
        verts.join(fwd, on="id", how="left")
        .join(bwd, on="id", how="left")
        .select(
            "id",
            F.when(F.col("f") & F.col("b"), F.lit("SCC"))
            .when(F.col("b"), F.lit("IN"))
            .when(F.col("f"), F.lit("OUT"))
            .otherwise(F.lit("OTHER"))
            .alias("region"),
        )
    )
    e.unpersist()
    return out


def bowtie_oracle_sql(dir_edges_cte: str, pivot_sql: str) -> str:
    """Recursive-CTE witness: ``dir_edges_cte`` must define
    ``de(src, dst)`` (the directed view); ``pivot_sql`` a scalar
    subquery for the pivot id."""
    return f"""
WITH RECURSIVE {dir_edges_cte.strip()},
dverts AS MATERIALIZED (
    -- explicit outer DISTINCT: under WITH RECURSIVE, DuckDB's
    -- MATERIALIZED CTEs lose a bare UNION's dedup (observed 4.x)
    SELECT DISTINCT id FROM (
        SELECT src AS id FROM de UNION ALL SELECT dst FROM de)),
fwd(id) AS (
    SELECT {pivot_sql}
    UNION
    SELECT e.dst FROM fwd f JOIN de e ON e.src = f.id),
bwd(id) AS (
    SELECT {pivot_sql}
    UNION
    SELECT e.src FROM bwd b JOIN de e ON e.dst = b.id)
SELECT v.id,
       CASE WHEN f.id IS NOT NULL AND b.id IS NOT NULL THEN 'SCC'
            WHEN b.id IS NOT NULL THEN 'IN'
            WHEN f.id IS NOT NULL THEN 'OUT'
            ELSE 'OTHER' END AS region
FROM dverts v
LEFT JOIN (SELECT DISTINCT id FROM fwd) f ON v.id = f.id
LEFT JOIN (SELECT DISTINCT id FROM bwd) b ON v.id = b.id
"""
