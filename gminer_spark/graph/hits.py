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
cannot ride the previous round's action.  The whole iteration is
therefore ONE Spark job: the materializing action of the
end-of-iteration ``plan_barrier``.  The
barrier (not ``localCheckpoint``) matters because the iteration plan
references the intermediate auth state twice (hub sums + carry) —
exactly the multi-reference shape that builds a 2^rounds Spark-4
origin tree under ``localCheckpoint`` (see tables.plan_barrier); the
two references share their shuffle via ReusedExchange.

L1 normalization (not the classic L2) keeps the arithmetic a mirrored
sum/divide in both engines; the fixpoint direction is identical and
the unrolled DuckDB oracle matches at micro rounding exactly like
``pagerank_micro``.

``tol`` enables delta-based convergence auto-stop (L1 distance of the
hub vector between iterations); it is OFF by default so fixed-iter
runs stay bit-comparable with the unrolled oracle.  With ``tol`` set
the per-iteration action count is still one: the barrier is lazy
(``eager=False``) and the delta aggregate is the action that
materializes it.

Vertices with no out-edges keep hub 0; no in-edges keep auth 0 (they
stay in the output — full vertex coverage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gminer_spark.graph import tables


def hits(
    edges: DataFrame, num_iter: int = 10, tol: float | None = None
) -> DataFrame:
    """(id, hub, auth) after ``num_iter`` iterations over the directed
    edge table (or earlier, if ``tol`` is set and the hub vector's L1
    delta drops below it)."""
    spark = edges.sparkSession
    n_shuffle = tables.shuffle_partitions(spark)
    e = (
        edges.select("src", "dst")
        .distinct()
        .repartition(n_shuffle, "src")
        .persist()
    )
    verts = tables.vertices(e)
    state = tables.plan_barrier(
        verts.select("id", F.lit(1.0).alias("hub"), F.lit(1.0).alias("auth"))
    )
    for _ in range(num_iter):
        auth_raw = (
            e.join(state.select(F.col("id").alias("src"), "hub"), on="src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("hub").alias("a_raw"))
        )
        # normalizers ride the plan as broadcast 1-row aggregates — no
        # driver action; zero-sum guard only fires on edgeless graphs
        # (the oracle's graphs always have edges, arithmetic unchanged)
        a_sum = auth_raw.agg(
            F.coalesce(F.nullif(F.sum("a_raw"), F.lit(0.0)), F.lit(1.0)).alias(
                "_asum"
            )
        )
        a_state = (
            state.select("id", "hub")
            .join(auth_raw, on="id", how="left")
            .crossJoin(F.broadcast(a_sum))
            .select(
                "id",
                "hub",
                (F.coalesce("a_raw", F.lit(0.0)) / F.col("_asum")).alias("auth"),
            )
        )
        hub_raw = (
            e.join(a_state.select(F.col("id").alias("dst"), "auth"), on="dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("auth").alias("h_raw"))
        )
        h_sum = hub_raw.agg(
            F.coalesce(F.nullif(F.sum("h_raw"), F.lit(0.0)), F.lit(1.0)).alias(
                "_hsum"
            )
        )
        new_state = (
            a_state.select("id", "auth")
            .join(hub_raw, on="id", how="left")
            .crossJoin(F.broadcast(h_sum))
            .select(
                "id",
                (F.coalesce("h_raw", F.lit(0.0)) / F.col("_hsum")).alias("hub"),
                "auth",
            )
        )
        if tol is None:
            state = tables.plan_barrier(new_state)
        else:
            prev = state
            state = tables.plan_barrier(new_state, eager=False)
            delta = (
                state.select("id", F.col("hub").alias("new_hub"))
                .join(prev.select("id", "hub"), on="id")
                .agg(F.sum(F.abs(F.col("new_hub") - F.col("hub"))))
                .first()[0]
            )
            if delta is not None and float(delta) < tol:
                break
    e.unpersist()
    return state.select("id", "hub", "auth")


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
