"""Maximal independent set — Luby's algorithm, derandomized.

Luby's round: a vertex enters the MIS when its priority beats every
undecided neighbor's; it and its neighbors leave the undecided set.
O(log n) rounds in expectation for random priorities.  We derandomize
with the engine's md5 idiom: priority = (h32(seed:id) >> 1) * 2^31 + id
— hash-uniform, collision-free (id tie-break packed into the low
bits, < 2^62 so BIGINT-safe in both engines), so the MIS is UNIQUE
and an unrolled SQL oracle checks exact membership.

Spark shape per round (a :func:`superstep.peel` round over the
undecided vertices, one action): one join of the undecided edge view
with the priority table (min-combiner pre-shuffle, the reference's
message fold, /root/reference/partition/BDGPartitioner.tpp:259-263),
one anti-join to drop the winners and their neighbors.  Under the row
gate the undecided side of each edge join is broadcast (as in the
k-core peel), so the edge table is probed map-side.  The round's
winners (read once), and the restricted edge view when a round
rebuilds it, are lazy leaves that the next undecided set is derived
from, so the round's count materializes them.  The undecided set
shrinks geometrically; survivors' edges are re-filtered by membership
— frontier-tracking like the CC vote-to-halt.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gminer_spark.functions import h32
from gminer_spark.graph import tables
from gminer_spark.graph.superstep import peel
from gminer_spark.graph.triangles import gated_broadcast

# Once |undecided| < _FRONTIER_FRAC · |V|, the scanned edge table is
# re-materialized restricted to undecided sources (and again on every
# further 4× shrink).
_FRONTIER_FRAC = 0.25


def _priority(col: str, seed: str):
    return (
        F.shiftright(h32(F.concat_ws(":", F.lit(seed), F.col(col))), 1)
        * F.lit(2147483648).cast("long")
        + F.col(col)
    )


def maximal_independent_set(
    edges: DataFrame,
    seed: str = "mis",
    max_iter: int = 100,
) -> DataFrame:
    """(id) — the unique MIS selected by md5-derived priorities.

    Tail rounds scan an edge table restricted to undecided sources
    (see ``_FRONTIER_FRAC``).  The restriction is a correctness no-op
    — the priority joins already enforce both endpoints undecided (src
    via the pri join, dst via the left join; decided winner-neighbors
    anti-join to nothing) and keeps every edge of an undecided vertex
    — but it caps the tail rounds, which
    otherwise map-scan the FULL persisted edge table for near-empty
    work on a 100× graph.
    """
    spark = edges.sparkSession
    sym = (
        tables.symmetrize(edges)
        .repartition(tables.shuffle_partitions(spark), "src")
        .persist()
    )
    undecided, n_total = tables.counted_checkpoint(tables.vertices(sym))
    cur_edges = sym  # shrinks to the undecided-restricted view at the tail
    last_restrict_n = None  # |undecided| at the last restriction
    mis: list[DataFrame] = []

    def step(undecided: DataFrame, n_und: int) -> DataFrame:
        nonlocal cur_edges, last_restrict_n
        if (last_restrict_n is None and n_und < _FRONTIER_FRAC * n_total) or (
            last_restrict_n is not None and n_und * 4 < last_restrict_n
        ):
            u_src = gated_broadcast(undecided.withColumnRenamed("id", "src"), n_und)
            cur_edges = cur_edges.join(u_src, on="src", how="left_semi").localCheckpoint(
                eager=False
            )
            last_restrict_n = n_und
        pri = undecided.select("id", _priority("id", seed).alias("pri"))
        nbr_min = (
            cur_edges.join(
                gated_broadcast(pri.withColumnRenamed("id", "src"), n_und), on="src"
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("pri").alias("nbr_pri"))
        )
        winners = (
            pri.join(nbr_min, on="id", how="left")
            .where(F.col("nbr_pri").isNull() | (F.col("pri") < F.col("nbr_pri")))
            .select("id")
            .localCheckpoint(eager=False)
        )
        mis.append(winners)
        # drop winners and their neighbors from the undecided set
        # (already-decided neighbors anti-join to nothing — harmless).
        # The winners are read once: each is the src of its own edges.
        removed = cur_edges.join(
            winners.withColumnRenamed("id", "src"), on="src"
        ).select(F.explode(F.array("src", "dst")).alias("id"))
        return undecided.join(removed, on="id", how="left_anti")

    peel(undecided, n_total, step, max_iter)
    sym.unpersist()
    if not mis:
        return spark.createDataFrame([], "id long")
    return functools.reduce(DataFrame.unionByName, mis)


def mis_oracle_sql(edges_cte: str, iters: int, seed: str = "mis") -> str:
    """Unrolled Luby rounds; priorities identical to the engine's, so
    membership matches exactly.  ``iters`` >= measured convergence
    (later rounds are no-ops on an empty undecided set)."""
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
        "m0 AS (SELECT CAST(NULL AS BIGINT) AS id WHERE 1 = 0)",
        """e0 AS MATERIALIZED (SELECT src, dst FROM sym)""",
    ]
    for k in range(1, iters + 1):
        p = k - 1
        ctes += [
            f"""w{k} AS MATERIALIZED (
    SELECT u.id FROM u{p} u
    LEFT JOIN (
        SELECT e.dst AS id, MIN({pri('e.src')}) AS nbr_pri
        FROM e{p} e JOIN u{p} s ON e.src = s.id
        GROUP BY e.dst) n
    ON u.id = n.id
    WHERE n.nbr_pri IS NULL OR {pri('u.id')} < n.nbr_pri)""",
            f"""m{k} AS MATERIALIZED (
    SELECT id FROM m{p} UNION ALL SELECT id FROM w{k})""",
            f"""u{k} AS MATERIALIZED (
    SELECT id FROM u{p}
    WHERE id NOT IN (SELECT id FROM w{k})
      AND id NOT IN (
        SELECT e.dst FROM e{p} e JOIN w{k} w ON e.src = w.id))""",
            f"""e{k} AS MATERIALIZED (
    SELECT e.src, e.dst FROM e{p} e
    JOIN u{k} a ON e.src = a.id
    JOIN u{k} b ON e.dst = b.id)""",
        ]
    return "WITH " + ",\n".join(ctes) + f"\nSELECT id FROM m{iters}"
