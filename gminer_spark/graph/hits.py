"""HITS hubs & authorities (Kleinberg 1999) — power iteration.

Rounds out the link-analysis family next to PageRank: over the
DIRECTED edge table, each iteration computes

    auth(v) = Σ_{u→v} hub(u)      then L1-normalizes auth,
    hub(u)  = Σ_{u→v} auth(v)     then L1-normalizes hub.

Spark shape — identical scale posture to the PageRank superstep
(gminer_spark.graph.pagerank): each half-step is ONE equi-join of the
persisted edge table against the state (hash-partitioned on the join
key, map-side partial sums as the combiner), and the L1 normalizer
enters the plan as a broadcast 1-row aggregate — NOT a driver-side
``.first()``: a half-step's normalizer is consumed by the SAME
iteration's next half-step, so unlike the PageRank dangling mass it
cannot ride the previous round's action.  The iteration is
:func:`_reinforce`, shared with SALSA (:mod:`gminer_spark.graph.salsa`
passes degree-normalized shares), and the rounds run through
:func:`superstep.fixpoint` with a constant-true ``changed`` predicate:
exactly ``num_iter`` rounds, one action each (the count that
materializes the round's origin-free barrier — the iteration plan
references the state twice, see tables.plan_barrier).  Under AQE that
action runs each query stage and broadcast as its own Spark job:
32 jobs per iteration on a 120-vertex graph at 8 shuffle partitions.

L1 normalization (not the classic L2) keeps the arithmetic a mirrored
sum/divide in both engines; the fixpoint direction is identical and
the unrolled DuckDB oracle matches at micro rounding exactly like
``pagerank_micro``.

Vertices with no out-edges keep hub 0; no in-edges keep auth 0 (they
stay in the output — full vertex coverage).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gminer_spark.graph import superstep, tables


def _half_step(
    e: DataFrame, state: DataFrame, share: Column, frm: str, to: str, out: str
) -> DataFrame:
    """Replace ``state[out]`` by the L1-normalized sum of ``share``
    over the ``frm -> to`` edges (0 where no edge arrives)."""
    raw = (
        e.join(state.select(F.col("id").alias(frm), share.alias("_share")), on=frm)
        .groupBy(F.col(to).alias("id"))
        .agg(F.sum("_share").alias("_raw"))
    )
    # the normalizer rides the plan as a broadcast 1-row aggregate — no
    # driver action; the zero-sum guard only fires on edgeless graphs
    norm = raw.agg(
        F.coalesce(F.nullif(F.sum("_raw"), F.lit(0.0)), F.lit(1.0)).alias("_norm")
    )
    value = (F.coalesce("_raw", F.lit(0.0)) / F.col("_norm")).alias(out)
    return (
        state.join(raw, on="id", how="left")
        .crossJoin(F.broadcast(norm))
        .select(*[value if c == out else c for c in state.columns])
    )


def _reinforce(
    e: DataFrame, state: DataFrame, hub_share: Column, auth_share: Column
) -> DataFrame:
    """One mutual-reinforcement iteration over ``state(id, hub, auth,
    ...)``: authorities collect ``hub_share`` along out-edges, then hubs
    collect ``auth_share`` (read from the new authorities) back along
    them.  Other state columns ride along unchanged."""
    state = _half_step(e, state, hub_share, "src", "dst", "auth")
    return _half_step(e, state, auth_share, "dst", "src", "hub")


def hits(edges: DataFrame, num_iter: int = 10) -> DataFrame:
    """(id, hub, auth) after ``num_iter`` iterations over the directed
    edge table."""
    e = tables.distinct_edges(edges)
    init = tables.vertices(e).select(
        "id", F.lit(1.0).alias("hub"), F.lit(1.0).alias("auth")
    )
    res = superstep.fixpoint(
        init,
        lambda state, _k: _reinforce(e, state, F.col("hub"), F.col("auth")),
        F.lit(True),
        max_iter=num_iter,
    )
    e.unpersist()
    return res.state.select("id", "hub", "auth")


def hits_oracle_sql(edges_cte: str, iters: int = 10) -> str:
    """Unrolled HITS iterations — mirrored sum/normalize arithmetic;
    match at micro rounding (same tolerance argument as the PageRank
    oracle: engine-order double-sum drift is ~1 ulp, far below 1e-6)."""
    ctes = [
        f"{edges_cte.strip()}",
        """verts AS MATERIALIZED (
    SELECT DISTINCT src AS id FROM edges
    UNION SELECT DISTINCT dst FROM edges)""",
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
        SELECT e.dst, SUM(s.hub) AS a
        FROM edges e JOIN {p} s ON e.src = s.id
        GROUP BY e.dst) c
    ON v.id = c.dst)""",
            f"""an{k} AS MATERIALIZED (
    SELECT id, hub, a_raw / (SELECT SUM(a_raw) FROM ar{k}) AS auth
    FROM ar{k})""",
            f"""hr{k} AS MATERIALIZED (
    SELECT v.id, v.auth, COALESCE(c.h, CAST(0.0 AS DOUBLE)) AS h_raw
    FROM an{k} v LEFT JOIN (
        SELECT e.src, SUM(s.auth) AS h
        FROM edges e JOIN an{k} s ON e.dst = s.id
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
