"""Maximal matching — parallel greedy on md5 edge priorities.

Luby-style edge variant of the MIS round (`graph/mis.py`): an edge
joins the matching when its priority is the minimum among ALL edges
sharing either endpoint (a local-minimum edge); its endpoints leave
the vertex pool and every incident edge deactivates.  Every round
clears at least the globally-minimum active edge, and hash-uniform
priorities give O(log n) rounds — the classic derandomized parallel
greedy matching.

Edge priority is a globally-unique STRING: ``md5(seed:src:dst) || ':'
|| src || ':' || dst`` — md5-uniform for load balance, the appended
canonical endpoint pair guarantees uniqueness, and lexicographic
string comparison is identical across Spark and DuckDB (pure-ASCII),
so the matching is a pure function of the graph and the unrolled SQL
oracle checks exact membership.

Spark shape per round (a :func:`superstep.peel` round over the live
edges, one action): one union + min-combined groupBy for the per-vertex
minimum, one join pair for the winner test, one semi-join of the
edges' endpoints with the matched vertices and one anti-join that
drops the edges touching them — all shuffle-bounded, no UDF, same
posture as the MIS round.  Each round's matched edges are a lazy leaf,
read once, that the next live set is derived from, so the round's
live-edge count materializes them.

Reference analog: matching is the edge-dual of the reference's
hash-min exchange (/root/reference/partition/BPartitioner.tpp:91-165);
used at corpus scale to pair near-duplicate hosts/pages one-to-one
(e.g. assigning each mirror to a single canonical partner).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gminer_spark.graph import tables
from gminer_spark.graph.superstep import peel


def _edge_pri(seed: str):
    canon = F.concat_ws(
        ":", F.lit(seed), F.col("src").cast("string"), F.col("dst").cast("string")
    )
    return F.concat_ws(
        ":", F.md5(canon), F.col("src").cast("string"), F.col("dst").cast("string")
    )


def maximal_matching(
    edges: DataFrame, seed: str = "match", max_iter: int = 100
) -> DataFrame:
    """(src, dst) — the unique maximal matching selected by md5 edge
    priorities over the canonical (src < dst) undirected edge set."""
    spark = edges.sparkSession
    canon = (
        tables.symmetrize(edges)
        .where(F.col("src") < F.col("dst"))
        .repartition(tables.shuffle_partitions(spark), "src")
    )
    live, n = tables.counted_checkpoint(
        canon.select("src", "dst", _edge_pri(seed).alias("pri"))
    )
    matched: list[DataFrame] = []

    def step(live: DataFrame, n: int) -> DataFrame:
        vmin = (
            live.select(F.col("src").alias("id"), "pri")
            .unionByName(live.select(F.col("dst").alias("id"), "pri"))
            .groupBy("id")
            .agg(F.min("pri").alias("vmin"))
        )
        winners = (
            live.join(
                vmin.withColumnRenamed("id", "src").withColumnRenamed("vmin", "smin"),
                on="src",
            )
            .join(
                vmin.withColumnRenamed("id", "dst").withColumnRenamed("vmin", "dmin"),
                on="dst",
            )
            .where((F.col("pri") == F.col("smin")) & (F.col("pri") == F.col("dmin")))
            .select("src", "dst")
            .localCheckpoint(eager=False)
        )
        matched.append(winners)
        # drop every edge touching a matched vertex; the winners are
        # read once, as the vertex list their endpoints make
        matched_v = winners.select(F.explode(F.array("src", "dst")).alias("v"))
        touched = live.select(
            "src", "dst", F.explode(F.array("src", "dst")).alias("v")
        ).join(matched_v, on="v", how="left_semi")
        return live.join(touched, on=["src", "dst"], how="left_anti")

    peel(live, n, step, max_iter)
    if not matched:
        return spark.createDataFrame([], "src long, dst long")
    return functools.reduce(DataFrame.unionByName, matched)


def matching_oracle_sql(edges_cte: str, iters: int, seed: str = "match") -> str:
    """Unrolled parallel-greedy rounds; identical string priorities,
    so edge membership matches exactly.  ``iters`` >= measured round
    count (rounds past an empty live set are no-ops)."""
    pri = (
        f"md5('{seed}:' || CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR))"
        " || ':' || CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR)"
    )
    ctes = [
        f"{edges_cte.strip()}",
        """sym AS MATERIALIZED (
    SELECT src, dst FROM edges
    UNION SELECT dst AS src, src AS dst FROM edges)""",
        f"""e0 AS MATERIALIZED (
    SELECT src, dst, {pri} AS pri FROM sym WHERE src < dst)""",
        "m0 AS (SELECT CAST(NULL AS BIGINT) AS src, CAST(NULL AS BIGINT) AS dst WHERE 1 = 0)",
    ]
    for k in range(1, iters + 1):
        p = k - 1
        ctes += [
            f"""v{k} AS MATERIALIZED (
    SELECT id, MIN(pri) AS vmin FROM (
        SELECT src AS id, pri FROM e{p}
        UNION ALL SELECT dst AS id, pri FROM e{p})
    GROUP BY id)""",
            f"""w{k} AS MATERIALIZED (
    SELECT e.src, e.dst FROM e{p} e
    JOIN v{k} a ON e.src = a.id AND e.pri = a.vmin
    JOIN v{k} b ON e.dst = b.id AND e.pri = b.vmin)""",
            f"""m{k} AS MATERIALIZED (
    SELECT src, dst FROM m{p} UNION ALL SELECT src, dst FROM w{k})""",
            f"""e{k} AS MATERIALIZED (
    SELECT e.src, e.dst, e.pri FROM e{p} e
    WHERE e.src NOT IN (SELECT src FROM w{k} UNION ALL SELECT dst FROM w{k})
      AND e.dst NOT IN (SELECT src FROM w{k} UNION ALL SELECT dst FROM w{k}))""",
        ]
    return "WITH " + ",\n".join(ctes) + f"\nSELECT src, dst FROM m{iters}"
