"""Truncated Katz centrality — attenuated path-count link analysis.

    x_0(v)     = 1
    x_{t+1}(v) = 1 + alpha * sum_{u->v} x_t(u)

i.e. after K rounds, x(v) = sum_{k<=K} alpha^k * (#directed paths of
length k ending at v): the third classic damped link-analysis score
next to PageRank (degree-normalized) and HITS/SALSA (mutually
reinforcing).  Unlike PageRank, high-out-degree spammy hubs do NOT
dilute their votes — which is exactly why Katz is the usual feature
next to PageRank in web-quality models.

Cross-engine EXACT (the hitting-time discipline, graph/hitting.py):
x is carried in MICRO ints, alpha is the dyadic 1/ATT, and the
per-round update is pure BIGINT:

    x' = MICRO + least(CAP, (s + ATT/2) div ATT)      s = sum of
                                                      in-neighbor x

``(s + ATT/2) div ATT`` is round-half-up in exact integer arithmetic
(both engines), so no float appears anywhere.  Truncated Katz need
not converge (alpha may exceed 1/lambda_max on hub-heavy graphs);
the saturation CAP (1e12 micro = 1e6 score units) makes the value
well-defined and keeps the neighbor sum inside BIGINT for in-degrees
up to ~9e6 at full saturation — beyond that, switch the sum to
DECIMAL(38,0) (structure.py discipline).

Spark shape: one equi-join of the persisted edge table against the
state per round (map-side partial BIGINT sums), the rounds run through
:func:`superstep.fixpoint` — one action per round, the PageRank
superstep posture.  The update is exact, so the loop stops early once
no ``x`` changes (on a DAG: after the longest path), with output
identical to running all ``horizon`` rounds.  Reference analog:
apps/pagerank.cpp's BVertex::compute superstep with a sum combiner;
Katz swaps the rank expression and drops the degree normalization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gminer_spark.graph import superstep, tables

MICRO = 1_000_000
ATT = 64  # dyadic attenuation alpha = 1/64
CAP = 10**12  # saturation, in micro units


def katz(edges: DataFrame, horizon: int = 6) -> DataFrame:
    """(id, katz_micro) — truncated Katz centrality after ``horizon``
    exact-integer rounds over the directed edge table."""
    e = tables.distinct_edges(edges)

    def step(state: DataFrame, _k: int) -> DataFrame:
        sums = (
            e.join(state.select(F.col("id").alias("src"), "x"), on="src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("x").alias("s"))
        )
        return (
            state.select("id", F.col("x").alias("old"))
            .join(sums, on="id", how="left")
            .select(
                "id",
                (
                    F.lit(MICRO)
                    + F.least(
                        F.lit(CAP).cast("long"),
                        F.expr(f"(coalesce(s, 0L) + {ATT // 2}) div {ATT}"),
                    )
                ).cast("long").alias("x"),
                "old",
            )
        )

    init = tables.vertices(e).select("id", F.lit(MICRO).cast("long").alias("x"))
    res = superstep.fixpoint(init, step, F.col("x") != F.col("old"), horizon)
    e.unpersist()
    return res.state.select("id", F.col("x").alias("katz_micro"))


def katz_oracle_sql(edges_cte: str, horizon: int = 6) -> str:
    """Unrolled exact-BIGINT Katz rounds; ``//`` is DuckDB integer
    floor division, mirroring Spark's ``div`` (module docstring)."""
    ctes = [
        f"{edges_cte.strip()}",
        """verts AS MATERIALIZED (
    SELECT DISTINCT src AS id FROM edges
    UNION SELECT DISTINCT dst FROM edges)""",
        f"""k0 AS MATERIALIZED (
    SELECT id, CAST({MICRO} AS BIGINT) AS x FROM verts)""",
    ]
    for k in range(1, horizon + 1):
        p = f"k{k - 1}"
        ctes.append(
            f"""k{k} AS MATERIALIZED (
    SELECT v.id,
           CAST({MICRO} + LEAST(CAST({CAP} AS BIGINT),
                (COALESCE(c.s, 0) + {ATT // 2}) // {ATT}) AS BIGINT) AS x
    FROM verts v LEFT JOIN (
        SELECT e.dst, SUM(s.x) AS s
        FROM edges e JOIN {p} s ON e.src = s.id
        GROUP BY e.dst) c
    ON v.id = c.dst)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id, x AS katz_micro FROM k{horizon}"
    )
