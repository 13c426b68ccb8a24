"""Greedy k-center (farthest-point) clustering over hop distances —
Gonzalez (1985): pick a start vertex, then repeatedly add the vertex
FARTHEST from the chosen set; assign every vertex to its nearest
center.  The classic 2-approximation for the k-center objective, and
the principled way to pick BFS landmarks / probe sites / cache
anchors spread across a graph (degree-top landmarks cluster in the
core; farthest-point spreads to the periphery by construction).

Determinism contract (both engines): start = min vertex id; next
center = (max dist, then min id); a vertex re-assigns only on a
STRICTLY smaller distance, so ties keep the earliest center;
unreached vertices carry dist = INF (2^30) and center = -1.

Spark shape: k sequential rounds, each one bounded-depth BFS from the
single new center (a :func:`superstep.grow` over the flat persisted
symmetric table, one count per level) plus one merge; the next-center
pick is a 1-row TakeOrderedAndProject collect (O(1) driver traffic per
round).  Reference analog: GMiner's Voronoi-seed partitioning grow
phase (SURVEY §2.4 count-by-key) with the seed set chosen
adversarially-far instead of hashed.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gminer_spark.graph import tables
from gminer_spark.graph.superstep import grow

INF = 1 << 30


def k_center(
    edges: DataFrame, k: int = 4, max_depth: int = 8
) -> DataFrame:
    """(id, center, dist) — nearest-center assignment after greedily
    choosing ``k`` centers; BFS truncated at ``max_depth`` hops (a
    vertex farther than that from every center keeps center -1,
    dist INF)."""
    spark = edges.sparkSession
    n_shuffle = tables.shuffle_partitions(spark)
    sym = (
        tables.symmetrize(edges).repartition(n_shuffle, "src").persist()
    )
    verts = sym.select(F.col("src").alias("id")).distinct()
    state = tables.plan_barrier(
        verts.select(
            "id",
            F.lit(INF).cast("long").alias("dist"),
            F.lit(-1).cast("long").alias("center"),
        )
    )

    def step(frontier: DataFrame) -> DataFrame:
        return (
            sym.join(frontier.withColumnRenamed("id", "src"), on="src")
            .select(F.col("dst").alias("id"), (F.col("d") + 1).alias("d"))
            .groupBy("id")
            .agg(F.min("d").alias("d"))
        )

    for r in range(k):
        if r == 0:
            row = verts.orderBy(F.asc("id")).limit(1).first()
        else:
            row = state.orderBy(
                F.desc("dist"), F.asc("id")
            ).limit(1).first()
        if row is None:
            break
        c = int(row["id"])

        # bounded BFS from the single new center
        levels = grow(
            spark.createDataFrame([(c, 0)], "id long, d long"),
            step,
            ["id"],
            max_depth,
        )[0]
        reached = functools.reduce(DataFrame.unionByName, levels)

        state = tables.plan_barrier(
            state.join(
                reached.withColumnRenamed("d", "bd"), on="id", how="left"
            ).select(
                "id",
                F.when(
                    F.coalesce("bd", F.lit(INF)) < F.col("dist"),
                    F.col("bd"),
                )
                .otherwise(F.col("dist"))
                .cast("long")
                .alias("dist"),
                F.when(
                    F.coalesce("bd", F.lit(INF)) < F.col("dist"),
                    F.lit(c),
                )
                .otherwise(F.col("center"))
                .cast("long")
                .alias("center"),
            )
        )
    sym.unpersist()
    return state


def k_center_oracle_sql(
    edges_cte: str, k: int = 4, depth: int = 8
) -> str:
    """Unrolled Gonzalez rounds: per round a 1-row next-center CTE
    (same max-dist/min-id rule), a ``depth``-step full-relaxation BFS
    chain, and the strict-improvement merge."""
    ctes = [
        edges_cte.strip(),
        """kc_sym AS MATERIALIZED (
    SELECT src, dst FROM edges WHERE src <> dst
    UNION SELECT dst AS src, src AS dst FROM edges WHERE src <> dst)""",
        """kc_verts AS MATERIALIZED (
    SELECT DISTINCT src AS id FROM kc_sym)""",
        f"""s_init AS MATERIALIZED (
    SELECT id, CAST({INF} AS BIGINT) AS dist,
           CAST(-1 AS BIGINT) AS center
    FROM kc_verts)""",
    ]
    prev = "s_init"
    for r in range(k):
        if r == 0:
            ctes.append(
                f"c{r} AS MATERIALIZED (SELECT MIN(id) AS cid FROM kc_verts)"
            )
        else:
            ctes.append(
                f"""c{r} AS MATERIALIZED (
    SELECT id AS cid FROM {prev}
    ORDER BY dist DESC, id ASC LIMIT 1)"""
            )
        ctes.append(
            f"""b{r}_0 AS MATERIALIZED (
    SELECT cid AS id, CAST(0 AS BIGINT) AS d FROM c{r})"""
        )
        for j in range(depth):
            ctes.append(
                f"""b{r}_{j + 1} AS MATERIALIZED (
    SELECT id, MIN(d) AS d FROM (
        SELECT id, d FROM b{r}_{j}
        UNION ALL
        SELECT e.dst AS id, b.d + 1 AS d
        FROM kc_sym e JOIN b{r}_{j} b ON b.id = e.src)
    GROUP BY id)"""
            )
        ctes.append(
            f"""s{r} AS MATERIALIZED (
    SELECT s.id,
           CASE WHEN COALESCE(b.d, {INF}) < s.dist
                THEN b.d ELSE s.dist END AS dist,
           CASE WHEN COALESCE(b.d, {INF}) < s.dist
                THEN (SELECT cid FROM c{r}) ELSE s.center END AS center
    FROM {prev} s LEFT JOIN b{r}_{depth} b ON b.id = s.id)"""
        )
        prev = f"s{r}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT id, CAST(center AS BIGINT) AS center, CAST(dist AS BIGINT) AS dist
FROM {prev}"""
    )
