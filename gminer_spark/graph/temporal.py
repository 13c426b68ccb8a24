"""Time-respecting reachability over a temporal edge table — the
earliest-arrival propagation of Wu et al., "Path Problems in Temporal
Graphs" (PVLDB 2014).

A temporal edge ``(src, dst, t)`` can only extend a path that has
already ARRIVED at ``src`` by time ``t``:

    arr(v) = 0                                   for sources
    arr(v) = min(arr(v),
                 min_{(u,v,t): t >= arr(u)} t)   otherwise

i.e. the earliest time information seeded at the sources can reach
``v`` along a time-non-decreasing path.  This is the diffusion /
influence primitive — static reachability over-counts (it follows
edges "backwards in time"), which is exactly why temporal analytics
need a first-class operator.

Cross-engine EXACT: timestamps are integer DAYS (or any integer
epoch); every round is a pure BIGINT min — no floats anywhere
(the hitting-time discipline).  ``INF`` marks unreached.

Spark shape: one equi-join of the persisted temporal edge table
against the state per round + a min-combine (map-side partial), the
rounds run through :func:`superstep.fixpoint` — one action per round,
the SSSP superstep posture.  Arrival times are monotone non-increasing
and exact, so the loop stops early once no ``arr`` changes, with
output identical to running all ``num_iter`` rounds; the fixed horizon
bounds cost at scale.  Reference analog: the hash-min CC /
SSSP BVertex::compute superstep (apps/*.cpp) with the message filter
``t >= arr(u)`` — GMiner's message-filter hook (SURVEY §2.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gminer_spark.graph import superstep, tables

INF = 10**15


def earliest_arrival(
    tedges: DataFrame, sources: DataFrame, num_iter: int = 4
) -> DataFrame:
    """(id, arrival) after ``num_iter`` rounds over ``tedges(src,
    dst, t)`` (``t`` integer); ``sources`` has one column ``id``.
    Unreached vertices carry ``arrival = INF`` so the result is total
    over the vertex set (stable schema for the driver contract)."""
    spark = tedges.sparkSession
    n_shuffle = tables.shuffle_partitions(spark)
    e = (
        tedges.select("src", "dst", F.col("t").cast("long").alias("t"))
        .distinct()
        .repartition(n_shuffle, "src")
        .persist()
    )

    def step(state: DataFrame, _k: int) -> DataFrame:
        msgs = (
            e.join(state.select(F.col("id").alias("src"), "arr"), on="src")
            .where(F.col("t") >= F.col("arr"))
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("t").alias("m"))
        )
        return (
            state.select("id", F.col("arr").alias("old"))
            .join(msgs, on="id", how="left")
            .select(
                "id",
                F.least(F.col("old"), F.coalesce("m", F.lit(INF))).alias("arr"),
                "old",
            )
        )

    init = (
        tables.vertices(e)
        .join(
            sources.select("id", F.lit(0).cast("long").alias("s0")),
            on="id",
            how="left",
        )
        .select("id", F.coalesce("s0", F.lit(INF)).cast("long").alias("arr"))
    )
    res = superstep.fixpoint(init, step, F.col("arr") != F.col("old"), num_iter)
    e.unpersist()
    return res.state.select("id", F.col("arr").alias("arrival"))


def earliest_arrival_oracle_sql(
    tedges_cte: str, source_pred: str, num_iter: int = 4
) -> str:
    """Unrolled earliest-arrival rounds over a CTE ``tedges(src, dst,
    t)``; ``source_pred`` is a SQL predicate over ``v.id``.  Pure
    BIGINT mins (module docstring)."""
    ctes = [
        f"{tedges_cte.strip()}",
        """tverts AS MATERIALIZED (
    SELECT DISTINCT src AS id FROM tedges
    UNION SELECT DISTINCT dst FROM tedges)""",
        f"""a0 AS MATERIALIZED (
    SELECT v.id,
           CAST(CASE WHEN {source_pred} THEN 0 ELSE {INF} END AS BIGINT)
               AS arr
    FROM tverts v)""",
    ]
    for k in range(1, num_iter + 1):
        p = f"a{k - 1}"
        ctes.append(
            f"""a{k} AS MATERIALIZED (
    SELECT s.id,
           CAST(LEAST(s.arr, COALESCE(c.m, {INF})) AS BIGINT) AS arr
    FROM {p} s LEFT JOIN (
        SELECT e.dst, MIN(e.t) AS m
        FROM tedges e JOIN {p} u ON e.src = u.id AND e.t >= u.arr
        GROUP BY e.dst) c
    ON s.id = c.dst)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id, arr AS arrival FROM a{num_iter}"
    )


def latest_departure(
    tedges: DataFrame,
    targets: DataFrame,
    deadline: int,
    num_iter: int = 4,
) -> DataFrame:
    """(id, departure) — the LATEST time one can leave each vertex and
    still reach a ``targets(id)`` vertex along a time-non-decreasing
    path by ``deadline`` (the evacuation / last-call dual of
    :func:`earliest_arrival`; Wu et al. PVLDB'14 latest-departure
    path).

    Implemented by exact time reversal — reverse every edge and map
    t → deadline − t, run earliest-arrival from the targets, map back
    departure = deadline − arrival — so the whole value-green
    earliest-arrival engine (and its oracle shape) is reused rather
    than mirrored.  Unreachable-by-deadline vertices carry
    departure = −1.  Pure BIGINT throughout.
    """
    rev = tedges.select(
        F.col("dst").alias("src"),
        F.col("src").alias("dst"),
        (F.lit(int(deadline)) - F.col("t").cast("long")).alias("t"),
    )
    arr = earliest_arrival(rev, targets, num_iter=num_iter)
    return arr.select(
        "id",
        F.when(F.col("arrival") >= F.lit(INF), F.lit(-1))
        .otherwise(F.lit(int(deadline)) - F.col("arrival"))
        .cast("long")
        .alias("departure"),
    )


def latest_departure_oracle_sql(
    tedges_cte: str,
    target_pred: str,
    deadline: int,
    num_iter: int = 4,
) -> str:
    """Composed oracle: rename the caller's temporal CTE, prepend the
    reversed/time-flipped view under the name the earliest-arrival
    generator expects, and map the final arrival back to departure."""
    base = tedges_cte.strip().replace("tedges AS ", "base_tedges AS ", 1)
    flipped = (
        base
        + f""",
tedges AS MATERIALIZED (
    SELECT dst AS src, src AS dst,
           CAST({int(deadline)} - t AS BIGINT) AS t
    FROM base_tedges)"""
    )
    inner = earliest_arrival_oracle_sql(flipped, target_pred, num_iter)
    body, sep, tail = inner.rpartition("\nSELECT id, arr AS arrival FROM ")
    assert sep, "unexpected earliest-arrival oracle shape"
    final = tail.strip()
    return (
        body
        + f"""
SELECT id,
       CAST(CASE WHEN arr >= {INF} THEN -1
                 ELSE {int(deadline)} - arr END AS BIGINT) AS departure
FROM {final}"""
    )
