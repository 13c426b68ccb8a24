"""Maximal independent set — Luby's algorithm, derandomized.

Luby's round: a vertex enters the MIS when its priority beats every
undecided neighbor's; it and its neighbors leave the undecided set.
O(log n) rounds in expectation for random priorities.  We derandomize
with the engine's md5 idiom: priority = (h32(seed:id) >> 1) * 2^31 + id
— hash-uniform, collision-free (id tie-break packed into the low
bits, < 2^62 so BIGINT-safe in both engines), so the MIS is UNIQUE
and an unrolled SQL oracle checks exact membership.

Spark shape per round: one join of the undecided edge view with the
priority table (min-combiner pre-shuffle, the reference's message
fold, /root/reference/partition/BDGPartitioner.tpp:259-263), one
anti-join to drop decided vertices.  The undecided set shrinks
geometrically; survivors' edges are re-filtered by membership —
frontier-tracking like the CC vote-to-halt.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gminer_spark.functions import h32
from gminer_spark.graph import tables

# Once |undecided| < _FRONTIER_FRAC · |V|, the scanned edge table is
# re-materialized restricted to undecided×undecided endpoints (and
# again on every further 4× shrink).
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

    Tail rounds scan an edge table restricted to undecided endpoints
    (see ``_FRONTIER_FRAC``).  The restriction is a correctness no-op
    — the priority joins already enforce both endpoints undecided (src
    via the pri join, dst via the left join; decided winner-neighbors
    anti-join to nothing) — but it caps the tail rounds, which
    otherwise map-scan the FULL persisted edge table for near-empty
    work on a 100× graph.
    """
    spark = edges.sparkSession
    sym = (
        tables.symmetrize(edges)
        .repartition(tables.shuffle_partitions(spark), "src")
        .persist()
    )
    undecided = tables.vertices(sym).localCheckpoint()
    n_und = n_total = undecided.count()
    cur_edges = sym  # shrinks to the undecided-restricted view at the tail
    last_restrict_n = None  # |undecided| at the last restriction
    mis_parts: list[DataFrame] = []
    # Round shape: map-side scan of the (possibly restricted) edge
    # table against the shrinking undecided priorities, min-combined
    # pre-shuffle.  The shuffle volume is O(undecided edges) either
    # way (same per-round scan posture as PageRank).  ONE action per
    # round (was three): winners, the restricted edge view and the
    # next undecided set are all LAZY localCheckpoints (LogicalRDD
    # leaves, each computed once), and the undecided count() at the
    # round's end materializes the lot while doubling as the
    # termination signal — the same fused-barrier idiom as the
    # coreness/focusco loops.
    for _ in range(max_iter):
        if n_und == 0:
            break
        want_restrict = (
            last_restrict_n is None and n_und < _FRONTIER_FRAC * n_total
        ) or (last_restrict_n is not None and n_und * 4 < last_restrict_n)
        if want_restrict:
            u_src = undecided.withColumnRenamed("id", "src")
            u_dst = undecided.withColumnRenamed("id", "dst")
            cur_edges = (
                cur_edges.join(u_src, on="src", how="left_semi")
                .join(u_dst, on="dst", how="left_semi")
                .localCheckpoint(eager=False)
            )
            last_restrict_n = n_und
        pri = undecided.select("id", _priority("id", seed).alias("pri"))
        nbr_min = (
            cur_edges.join(pri.withColumnRenamed("id", "src"), on="src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("pri").alias("nbr_pri"))
        )
        winners = (
            pri.join(nbr_min, on="id", how="left")
            .where(F.col("nbr_pri").isNull() | (F.col("pri") < F.col("nbr_pri")))
            .select("id")
            .localCheckpoint(eager=False)
        )
        mis_parts.append(winners)
        # drop winners and their neighbors from the undecided set
        # (already-decided neighbors anti-join to nothing — harmless)
        removed = winners.unionByName(
            cur_edges.join(winners.withColumnRenamed("id", "src"), on="src").select(
                F.col("dst").alias("id")
            )
        ).distinct()
        undecided = undecided.join(removed, on="id", how="left_anti").localCheckpoint(
            eager=False
        )
        n_und = undecided.count()
    sym.unpersist()
    if not mis_parts:
        return spark.createDataFrame([], "id long")
    mis = mis_parts[0]
    for part in mis_parts[1:]:
        mis = mis.unionByName(part)
    return mis


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
