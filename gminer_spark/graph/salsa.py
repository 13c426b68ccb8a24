"""SALSA hubs & authorities (Lempel & Moran 2000) — power iteration.

The third classic link-analysis fixpoint next to PageRank and HITS:
the stationary distribution of a two-step random walk on the
hub/authority bipartite view of the directed edge table,

    auth(j) = Σ_{i→j} hub(i)  / out_deg(i)
    hub(i)  = Σ_{i→j} auth(j) / in_deg(j)

i.e. HITS with DEGREE-NORMALIZED contributions (the mutual-
reinforcement matrix becomes stochastic, which is what makes SALSA
robust to the tightly-knit-community effect that inflates HITS
scores).  Each vector is L1-normalized per half-step exactly like
:mod:`gminer_spark.graph.hits`, so dangling mass (hubs with no
out-edges / authorities with no in-edges) is redistributed
proportionally instead of leaking.

Spark shape — identical scale posture to HITS/PageRank, and the
same code: the iteration is :func:`hits._reinforce` with the shares
``hub/out_deg`` and ``auth/in_deg``.  The degrees are computed ONCE
and ride in the state as static columns, so no half-step joins a
degree table; every half-step is one equi-join of the persisted edge
table against the state (map-side partial sums), the L1 normalizer
rides the plan as a broadcast 1-row aggregate, and the rounds run
through :func:`superstep.fixpoint` with a constant-true ``changed``
predicate — exactly ``num_iter`` rounds, one action each.  Under AQE
that action runs each query stage and broadcast as its own Spark job:
about 32 jobs per iteration on a 120-vertex graph at 8 shuffle
partitions, as for HITS.

Reference analog: the BVertex::compute superstep loop
(core/bvertex.hpp, apps/pagerank.cpp:18-52) — per-superstep keyed
message sum + combiner; SALSA swaps the rank expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gminer_spark.graph import superstep, tables
from gminer_spark.graph.hits import _reinforce


def salsa(edges: DataFrame, num_iter: int = 10) -> DataFrame:
    """(id, hub, auth) after ``num_iter`` degree-normalized,
    L1-renormalized iterations over the directed edge table."""
    e = tables.distinct_edges(edges)
    out_deg = e.groupBy(F.col("src").alias("id")).agg(
        F.count("*").cast("double").alias("out_deg")
    )
    in_deg = e.groupBy(F.col("dst").alias("id")).agg(
        F.count("*").cast("double").alias("in_deg")
    )
    init = (
        tables.vertices(e)
        .join(out_deg, on="id", how="left")
        .join(in_deg, on="id", how="left")
        .select(
            "id",
            F.lit(1.0).alias("hub"),
            F.lit(1.0).alias("auth"),
            F.coalesce("out_deg", F.lit(0.0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0.0)).alias("in_deg"),
        )
    )
    res = superstep.fixpoint(
        init,
        lambda state, _k: _reinforce(
            e,
            state,
            F.col("hub") / F.col("out_deg"),
            F.col("auth") / F.col("in_deg"),
        ),
        F.lit(True),
        max_iter=num_iter,
    )
    e.unpersist()
    return res.state.select("id", "hub", "auth")


def salsa_oracle_sql(edges_cte: str, iters: int = 10) -> str:
    """Unrolled SALSA iterations — same mirrored sum/normalize shape
    as ``hits_oracle_sql`` plus the shared degree CTE; match at micro
    rounding (engine-order double-sum drift ~1 ulp << 1e-6).  Note
    CAST(... AS DOUBLE) everywhere a division appears (the DuckDB
    bare-decimal-literal pitfall)."""
    ctes = [
        f"{edges_cte.strip()}",
        """verts AS MATERIALIZED (
    SELECT DISTINCT src AS id FROM edges
    UNION SELECT DISTINCT dst FROM edges)""",
        """sdeg AS MATERIALIZED (
    SELECT v.id,
           CAST(COALESCE(o.c, 0) AS DOUBLE) AS out_deg,
           CAST(COALESCE(i.c, 0) AS DOUBLE) AS in_deg
    FROM verts v
    LEFT JOIN (SELECT src, COUNT(*) AS c FROM edges GROUP BY src) o
        ON v.id = o.src
    LEFT JOIN (SELECT dst, COUNT(*) AS c FROM edges GROUP BY dst) i
        ON v.id = i.dst)""",
        """s0 AS MATERIALIZED (
    SELECT id, CAST(1.0 AS DOUBLE) AS hub, CAST(1.0 AS DOUBLE) AS auth
    FROM verts)""",
    ]
    for k in range(1, iters + 1):
        p = f"s{k - 1}"
        ctes += [
            f"""ar{k} AS MATERIALIZED (
    SELECT v.id, v.hub, COALESCE(c.a, CAST(0.0 AS DOUBLE)) AS a_raw
    FROM {p} v LEFT JOIN (
        SELECT e.dst, SUM(s.hub / d.out_deg) AS a
        FROM edges e
        JOIN {p} s ON e.src = s.id
        JOIN sdeg d ON e.src = d.id
        GROUP BY e.dst) c
    ON v.id = c.dst)""",
            f"""an{k} AS MATERIALIZED (
    SELECT id, hub, a_raw / (SELECT SUM(a_raw) FROM ar{k}) AS auth
    FROM ar{k})""",
            f"""hr{k} AS MATERIALIZED (
    SELECT v.id, v.auth, COALESCE(c.h, CAST(0.0 AS DOUBLE)) AS h_raw
    FROM an{k} v LEFT JOIN (
        SELECT e.src, SUM(s.auth / d.in_deg) AS h
        FROM edges e
        JOIN an{k} s ON e.dst = s.id
        JOIN sdeg d ON e.dst = d.id
        GROUP BY e.src) c
    ON v.id = c.src)""",
            f"""s{k} AS MATERIALIZED (
    SELECT id, h_raw / (SELECT SUM(h_raw) FROM hr{k}) AS hub, auth
    FROM hr{k})""",
        ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT id, CAST(ROUND(hub * 1e6) AS BIGINT) AS hub_micro,
       CAST(ROUND(auth * 1e6) AS BIGINT) AS auth_micro
FROM s{iters}"""
    )
