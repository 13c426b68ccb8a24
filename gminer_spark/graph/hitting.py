"""Truncated expected hitting time to a target set (Sarkar & Moore
2007) — the random-walk proximity feature for link prediction and
crawl-depth estimation.

    h(v) = 0                                   if v in targets
    h(v) = K                                   if out_deg(v) = 0
    h(v) = min(K, 1 + mean_{v->u} h(u))        otherwise

computed by K rounds of value iteration from h_0 = (0 on targets,
K elsewhere).  Truncation at horizon ``K`` is what makes the
quantity well-defined on graphs where some vertices never reach the
target set — and what bounds the iteration count at scale.

Cross-engine exact (no float drift at all, unlike the micro-rounded
PageRank/HITS family): h is carried in MICRO ints, the per-vertex
neighbor sum is an exact BIGINT, and the single division per vertex
per round (``s / out_deg``) is rounded straight back to micro — the
CLAUDE.md single-division rule.  The ``min`` against the horizon
therefore compares exact integers, so the cap can never flip on a
1-ulp engine difference.

Spark shape: one equi-join of the persisted edge table against the
state per round (map-side partial sums); the static ``is_t`` and
``out_deg`` columns ride in the state, and the rounds run through
:func:`superstep.fixpoint` — one action per round, the PageRank
superstep posture (pagerank.py).  The update is exact, so the loop
stops early once no ``h`` changes, with output identical to running
all ``horizon`` rounds.  Reference analog: apps/reachability-style
BVertex::compute with a min-combiner (core/bvertex.hpp).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gminer_spark.graph import superstep, tables

MICRO = 1_000_000


def hitting_time(
    edges: DataFrame, targets: DataFrame, horizon: int = 6
) -> DataFrame:
    """(id, hit_micro) — truncated hitting time in micro steps after
    ``horizon`` value-iteration rounds over the directed edge table.

    ``targets``: one column ``id``.
    """
    e = tables.distinct_edges(edges)
    cap = horizon * MICRO

    def step(state: DataFrame, _k: int) -> DataFrame:
        sums = (
            e.join(state.select(F.col("id").alias("dst"), "h"), on="dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("h").alias("s"))
        )
        return (
            state.select("id", "is_t", "out_deg", F.col("h").alias("old"))
            .join(sums, on="id", how="left")
            .select(
                "id",
                "is_t",
                "out_deg",
                F.when(F.col("is_t"), F.lit(0).cast("long"))
                .when(F.col("out_deg") == 0, F.lit(cap).cast("long"))
                .otherwise(
                    F.least(
                        F.lit(cap).cast("long"),
                        F.lit(MICRO)
                        + F.round(
                            F.col("s").cast("double") / F.col("out_deg"), 0
                        ).cast("long"),
                    )
                )
                .alias("h"),
                "old",
            )
        )

    init = (
        tables.vertices(e)
        .join(
            targets.select(F.col("id"), F.lit(True).alias("is_t")),
            on="id",
            how="left",
        )
        .join(
            e.groupBy(F.col("src").alias("id")).agg(
                F.count("*").alias("out_deg")
            ),
            on="id",
            how="left",
        )
        .select(
            "id",
            F.coalesce("is_t", F.lit(False)).alias("is_t"),
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
        )
        .withColumn(
            "h",
            F.when(F.col("is_t"), F.lit(0)).otherwise(F.lit(cap)).cast("long"),
        )
    )
    res = superstep.fixpoint(init, step, F.col("h") != F.col("old"), horizon)
    e.unpersist()
    return res.state.select("id", F.col("h").alias("hit_micro"))


def hitting_time_oracle_sql(
    edges_cte: str, target_pred: str, horizon: int = 6
) -> str:
    """Unrolled value-iteration chain.  ``target_pred`` is a SQL
    predicate over ``id`` selecting the target set.  Every value is
    an exact BIGINT in both engines (module docstring)."""
    cap = horizon * MICRO
    ctes = [
        f"{edges_cte.strip()}",
        """verts AS MATERIALIZED (
    SELECT DISTINCT src AS id FROM edges
    UNION SELECT DISTINCT dst FROM edges)""",
        f"""hbase AS MATERIALIZED (
    SELECT v.id, ({target_pred}) AS is_t,
           COALESCE(o.c, 0) AS out_deg
    FROM verts v LEFT JOIN (
        SELECT src, COUNT(*) AS c FROM edges GROUP BY src) o
    ON v.id = o.src)""",
        f"""h0 AS MATERIALIZED (
    SELECT id, CAST(CASE WHEN is_t THEN 0 ELSE {cap} END AS BIGINT) AS h
    FROM hbase)""",
    ]
    for k in range(1, horizon + 1):
        p = f"h{k - 1}"
        ctes.append(
            f"""h{k} AS MATERIALIZED (
    SELECT b.id,
           CAST(CASE
             WHEN b.is_t THEN 0
             WHEN b.out_deg = 0 THEN {cap}
             ELSE LEAST({cap},
                  {MICRO} + CAST(ROUND(CAST(c.s AS DOUBLE) / b.out_deg)
                                 AS BIGINT))
           END AS BIGINT) AS h
    FROM hbase b LEFT JOIN (
        SELECT e.src, SUM(s.h) AS s
        FROM edges e JOIN {p} s ON e.dst = s.id
        GROUP BY e.src) c
    ON b.id = c.src)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id, h AS hit_micro FROM h{horizon}"
    )
