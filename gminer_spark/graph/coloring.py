"""Distributed greedy graph coloring — Jones-Plassmann, derandomized.

Jones-Plassmann round: every UNCOLORED vertex whose priority beats all
uncolored neighbors picks the smallest color unused by its already-
colored neighbors; winners of one round are mutually non-adjacent (an
independent set), so simultaneous assignment is race-free.  O(log n)
rounds for hash-uniform priorities.

Priorities are the repo's derandomized md5 idiom (shared with Luby MIS,
`graph/mis.py`): pri = (h32(seed:id) >> 1) * 2^31 + id — unique, so the
coloring is a pure function of the graph and the oracle checks exact
per-vertex colors.

Spark shape per round (a :func:`superstep.peel` round over the
uncolored vertices, one action; same scan posture as MIS): one
min-combined join for the winner test, `array_except`/`array_min` over
`sequence(0, |used|)` for the smallest-free-color pick (a vertex with k
used colors always finds a free color <= k), one join + groupBy that
hands the new colors to the winners' uncolored neighbors and marks the
winners colored — each uncolored vertex carries the set of colors its
colored neighbors use, so no round joins the colors decided so far —
all JVM-side, no UDF.  Each round's new colors are a lazy leaf, read
once, that the next uncolored set is derived from, so the round's
count materializes them.

Reference analog: the reference's B&B mining kernel greedy-colors each
task's candidate subgraph to bound clique size
(/root/reference/apps/maxclique.cpp greedy color sort; SURVEY §2.5
"greedy color sort") — this module is the graph-wide, partition-
parallel version of that kernel step.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gminer_spark.graph import tables
from gminer_spark.graph.mis import _priority
from gminer_spark.graph.superstep import peel


def greedy_coloring(
    edges: DataFrame, seed: str = "color", max_iter: int = 200
) -> DataFrame:
    """(id, color) — the unique Jones-Plassmann coloring under the
    md5 priority order.  Proper: adjacent vertices never share a
    color; colors are dense small ints (0..max_used)."""
    spark = edges.sparkSession
    sym = (
        tables.symmetrize(edges)
        .repartition(tables.shuffle_partitions(spark), "src")
        .persist()
    )
    no_colors = F.array().cast("array<int>")
    undecided, n = tables.counted_checkpoint(
        tables.vertices(sym).select("id", no_colors.alias("used"))
    )
    colored: list[DataFrame] = []

    def step(undecided: DataFrame, n: int) -> DataFrame:
        pri = undecided.select("id", "used", _priority("id", seed).alias("pri"))
        nbr_min = (
            sym.join(pri.select(F.col("id").alias("src"), "pri"), on="src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("pri").alias("nbr_pri"))
        )
        new_colors = (
            pri.join(nbr_min, on="id", how="left")
            .where(F.col("nbr_pri").isNull() | (F.col("pri") < F.col("nbr_pri")))
            .select(
                "id",
                F.array_min(
                    F.array_except(F.sequence(F.lit(0), F.size("used")), "used")
                )
                .cast("int")
                .alias("color"),
            )
            .localCheckpoint(eager=False)
        )
        colored.append(new_colors)
        # one read of the new colors: each winner tells its neighbors
        # its color and marks itself decided (a null message)
        msgs = (
            sym.join(new_colors.withColumnRenamed("id", "src"), on="src")
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("dst").alias("id"), F.col("color").alias("c")),
                        F.struct(
                            F.col("src").alias("id"), F.lit(None).cast("int").alias("c")
                        ),
                    )
                ).alias("m")
            )
            .groupBy("m.id")
            .agg(
                F.collect_set("m.c").alias("told"),
                F.max(F.col("m.c").isNull()).alias("won"),
            )
        )
        return (
            undecided.join(msgs, on="id", how="left")
            .where(~F.coalesce("won", F.lit(False)))
            .select(
                "id",
                F.array_union("used", F.coalesce("told", no_colors)).alias("used"),
            )
        )

    peel(undecided, n, step, max_iter)
    sym.unpersist()
    if not colored:
        return spark.createDataFrame([], "id long, color int")
    return functools.reduce(DataFrame.unionByName, colored)


def coloring_oracle_sql(edges_cte: str, iters: int, seed: str = "color") -> str:
    """Unrolled Jones-Plassmann rounds; identical priorities, so the
    per-vertex colors match exactly.  ``iters`` >= measured round
    count at the tested scale (idempotent past convergence)."""
    from gminer_spark.functions import h32_sql

    def pri(col: str) -> str:
        key = f"'{seed}:' || CAST({col} AS VARCHAR)"
        return f"({h32_sql(key)} // 2) * 2147483648 + {col}"

    ctes = [
        f"{edges_cte.strip()}",
        """sym AS MATERIALIZED (
    SELECT src, dst FROM edges
    UNION SELECT dst AS src, src AS dst FROM edges)""",
        "u0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM sym)",
        "c0 AS (SELECT CAST(NULL AS BIGINT) AS id, CAST(NULL AS INT) AS color WHERE 1 = 0)",
        # candidate colors 0..maxdeg+1 — a vertex's free color is
        # always <= its colored-neighbor count <= its degree
        """cand AS MATERIALIZED (
    SELECT UNNEST(generate_series(0, (
        SELECT MAX(d) + 1 FROM (
            SELECT COUNT(*) AS d FROM sym GROUP BY src)))) AS c)""",
    ]
    for k in range(1, iters + 1):
        p = k - 1
        ctes += [
            f"""w{k} AS MATERIALIZED (
    SELECT u.id FROM u{p} u
    LEFT JOIN (
        SELECT e.dst AS id, MIN({pri('e.src')}) AS nbr_pri
        FROM sym e JOIN u{p} s ON e.src = s.id
        GROUP BY e.dst) n
    ON u.id = n.id
    WHERE n.nbr_pri IS NULL OR {pri('u.id')} < n.nbr_pri)""",
            f"""n{k} AS MATERIALIZED (
    SELECT w.id, CAST(MIN(cd.c) AS INT) AS color
    FROM w{k} w
    CROSS JOIN cand cd
    LEFT JOIN (
        SELECT e.dst AS id, cc.color
        FROM sym e JOIN c{p} cc ON e.src = cc.id) us
    ON us.id = w.id AND us.color = cd.c
    WHERE us.color IS NULL
    GROUP BY w.id)""",
            f"""c{k} AS MATERIALIZED (
    SELECT id, color FROM c{p} UNION ALL SELECT id, color FROM n{k})""",
            f"""u{k} AS MATERIALIZED (
    SELECT id FROM u{p} WHERE id NOT IN (SELECT id FROM w{k}))""",
        ]
    return "WITH " + ",\n".join(ctes) + f"\nSELECT id, color FROM c{iters}"
