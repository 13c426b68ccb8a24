"""Single-source(-set) shortest paths by Bellman-Ford supersteps.

The message pattern is the reference's hash-min exchange with a
per-edge increment: ``subG_hashmin``'s min-combiner
(/root/reference/partition/BPartitioner.tpp:91-165,
BDGPartitioner.tpp:259-263) folds duplicate messages pre-shuffle; here
the message is ``dist(src) + w`` instead of the bare label, and the
vertex keeps the min.  Vote-to-halt identical to CC: only vertices
whose distance improved last round broadcast this round, so message
volume tracks the shrinking frontier.

Weights are kept as LONGS (default weight 1 = hop distance) so every
engine computes bit-identical distances — the cross-engine oracle
idiom used throughout the contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gminer_spark.checkpoint import CheckpointStore
from gminer_spark.graph import tables
from gminer_spark.graph.superstep import SuperstepResult, fixpoint


def shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    weight_col: str | None = None,
    directed: bool = False,
    max_iter: int = 200,
    store: CheckpointStore | None = None,
    resume: bool = True,
) -> SuperstepResult:
    """Min-distance from a ``sources(id)`` set over ``edges(src, dst)``.

    Returns state ``(id, dist)`` for REACHED vertices only (finite
    distances).  ``weight_col`` names a non-negative integer edge
    weight (default: every edge costs 1 — hop distance / BFS).
    Undirected by default (each edge relaxes both ways), matching the
    reference's adjacency-list graphs.
    """
    spark = edges.sparkSession
    edges_in, n_in, we_persisted = tables.ensure_materialized(edges)
    n_shuffle = tables.sized_partitions(spark, n_in)
    w_expr = (
        F.col(weight_col).cast("long") if weight_col is not None else F.lit(1).cast("long")
    )
    base = edges_in.select("src", "dst", w_expr.alias("w"))
    if not directed:
        rev = base.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
        )
        base = base.unionByName(rev)
    rel = (
        base.where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))  # parallel edges: keep the cheapest
        .repartition(n_shuffle, "src")
        .persist()
    )
    edge_count = rel.count()
    if we_persisted:
        edges_in.unpersist()

    src_set = sources.select(F.col("id").cast("long").alias("id")).distinct()
    init = (
        tables.vertices(rel)
        .join(src_set.withColumn("_s", F.lit(True)), on="id", how="inner")
        .select("id", F.lit(0).cast("long").alias("dist"), F.lit(True).alias("active"))
    )

    def step(state: DataFrame, k: int) -> DataFrame:
        frontier = state.where(F.col("active"))
        msgs = (
            rel.join(frontier, rel.src == frontier.id)
            .select("dst", (F.col("dist") + F.col("w")).alias("cand"))
            .groupBy("dst")
            .agg(F.min("cand").alias("cand"))
        )
        return (
            state.select("id", "dist")
            .join(msgs, state.id == msgs.dst, "full")
            .select(
                F.coalesce(F.col("id"), F.col("dst")).alias("id"),
                F.least(
                    F.coalesce(F.col("dist"), F.col("cand")),
                    F.coalesce(F.col("cand"), F.col("dist")),
                ).alias("dist"),
                (
                    F.col("dist").isNull()
                    | (F.coalesce(F.col("cand") < F.col("dist"), F.lit(False)))
                ).alias("active"),
            )
        )

    result = fixpoint(
        init,
        step,
        F.col("active"),
        max_iter=max_iter,
        store=store,
        resume=resume,
        metrics={"edges_scanned": edge_count, "messages_shuffled": edge_count},
    )
    result.state = result.state.select("id", "dist")
    rel.unpersist()
    return result


def sssp_oracle_sql(
    edges_cte: str,
    source_pred: str,
    iters: int,
    weighted: bool = False,
) -> str:
    """Unrolled Bellman-Ford rounds as a MATERIALIZED CTE chain.

    ``edges_cte`` must define ``edges(src, dst[, w])``; ``source_pred``
    is a SQL predicate over ``id`` selecting the source set.  Rounds
    past convergence are idempotent, so any ``iters`` >= the measured
    convergence count matches the engine's vote-to-halt fixpoint.
    """
    w_fwd = "w" if weighted else "1 AS w"
    w_rev = "w" if weighted else "1 AS w"
    ctes = [
        f"{edges_cte.strip()}",
        f"""rel AS MATERIALIZED (
    SELECT src, dst, MIN(w) AS w FROM (
        SELECT src, dst, {w_fwd} FROM edges
        UNION ALL SELECT dst AS src, src AS dst, {w_rev} FROM edges)
    WHERE src <> dst GROUP BY src, dst)""",
        # alias src -> id FIRST so source_pred applies verbatim — a
        # textual id->src substitution corrupts predicates where 'id'
        # appears inside another token
        f"""d0 AS MATERIALIZED (
    SELECT id, CAST(0 AS BIGINT) AS dist
    FROM (SELECT DISTINCT src AS id FROM rel) v WHERE {source_pred})""",
    ]
    for i in range(1, iters + 1):
        p = f"d{i - 1}"
        ctes.append(
            f"""d{i} AS MATERIALIZED (
    SELECT id, MIN(dist) AS dist FROM (
        SELECT id, dist FROM {p}
        UNION ALL
        SELECT r.dst AS id, d.dist + r.w AS dist
        FROM rel r JOIN {p} d ON r.src = d.id)
    GROUP BY id)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id, CAST(dist AS BIGINT) AS dist FROM d{iters}"
    )


WIDEST_INF = 1 << 30


def widest_paths(
    edges: DataFrame,
    sources: DataFrame,
    weight_col: str = "w",
    max_iter: int = 50,
) -> DataFrame:
    """Maximum-bottleneck (widest) path capacity from a ``sources(id)``
    set: bottleneck(v) = max over paths of the MIN edge weight along
    the path — the max-min semiring on the same superstep shape as
    :func:`shortest_paths` (network capacity / weakest-link quality of
    the best route; a LONGER path can beat a direct edge, so rounds
    are bounded by the longest widening path, not the hop diameter —
    measured 7 at sf0.01).

    Sources carry bottleneck = WIDEST_INF (2^30: reach yourself over
    no edges).  Values only increase and are bounded by the max
    weight, so the loop converges; returns (id, bottleneck) for
    reached vertices.  Exact BIGINT throughout.
    """
    n_shuffle = tables.shuffle_partitions(edges.sparkSession)
    base = edges.select("src", "dst", F.col(weight_col).cast("long").alias("w"))
    rel = (
        base.unionByName(
            base.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
        )
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.max("w").alias("w"))  # parallel edges: keep the widest
        .repartition(n_shuffle, "src")
        .persist()
    )
    rel.count()
    init = (
        rel.select(F.col("src").alias("id"))
        .distinct()
        .join(sources.select("id").distinct(), on="id")
        .select("id", F.lit(WIDEST_INF).cast("long").alias("bn"))
    )

    def step(state: DataFrame, k: int) -> DataFrame:
        cand = (
            rel.join(state.withColumnRenamed("id", "src"), on="src")
            .select(
                F.col("dst").alias("id"),
                F.least("bn", "w").alias("cand"),
            )
            .groupBy("id")
            .agg(F.max("cand").alias("cand"))
        )
        return state.join(cand, on="id", how="full").select(
            F.col("id"),
            F.greatest(
                F.coalesce("bn", F.lit(-1)), F.coalesce("cand", F.lit(-1))
            ).alias("bn"),
            (F.coalesce("cand", F.lit(-1)) > F.coalesce("bn", F.lit(-1))).alias(
                "grew"
            ),
        )

    state = fixpoint(init, step, F.col("grew"), max_iter=max_iter).state
    rel.unpersist()
    return state.select("id", F.col("bn").alias("bottleneck"))


def widest_paths_oracle_sql(
    weighted_edges_cte: str, source_pred: str, iters: int
) -> str:
    """Unrolled max-min rounds over a CTE ``wedges(src, dst, w)``;
    ``iters`` must cover the engine fixpoint (compare fails loudly if
    short)."""
    ctes = [
        weighted_edges_cte.strip(),
        """wrel AS MATERIALIZED (
    SELECT src, dst, MAX(w) AS w FROM (
        SELECT src, dst, w FROM wedges WHERE src <> dst
        UNION ALL
        SELECT dst AS src, src AS dst, w FROM wedges WHERE src <> dst)
    GROUP BY src, dst)""",
        f"""w0 AS MATERIALIZED (
    SELECT id, CAST({WIDEST_INF} AS BIGINT) AS bn
    FROM (SELECT DISTINCT src AS id FROM wrel) v WHERE {source_pred})""",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""w{i} AS MATERIALIZED (
    SELECT id, MAX(bn) AS bn FROM (
        SELECT id, bn FROM w{i - 1}
        UNION ALL
        SELECT e.dst AS id, LEAST(p.bn, e.w) AS bn
        FROM wrel e JOIN w{i - 1} p ON p.id = e.src)
    GROUP BY id)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id, CAST(bn AS BIGINT) AS bottleneck FROM w{iters}"
    )
