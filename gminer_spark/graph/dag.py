"""Longest-path layering of a DAG (topological levels).

layer(v) = length of the longest directed path ending at v — the
level schedule of a dependency/citation/crawl-order DAG: everything
in layer k can run once layers < k are done, and max(layer) is the
critical-path length.

Spark shape: Bellman-style MAX propagation — after round k every
vertex carries the longest path over ≤ k edges, so the loop converges
in exactly critical-path-length rounds.  That bound is inherent
(longest path is the canonical P-complete-to-parallelize quantity);
the operator is for the bounded-depth DAGs the layering question
makes sense on (build graphs, citation DAGs, crawl frontiers), not
for adversarial chains.  Each round is ONE join + ONE max-aggregate +
ONE merge over the flat persisted edge table; the state table is
referenced twice per round (neighbor lookup + carry), so rounds run
through :func:`gminer_spark.graph.superstep.fixpoint`: origin-free
``plan_barrier`` leaves (the Spark-4 origin-chain pitfall) with the
convergence count fused into the lazy barrier's first action — one
Spark action per round.

Reference analog: the superstep loop + vote-to-halt of the BPregel
side (SURVEY §2.8) with MAX as the combiner; the unrolled oracle
mirrors every round.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gminer_spark.graph import tables
from gminer_spark.graph.superstep import fixpoint


def dag_layers(edges: DataFrame, max_rounds: int = 64) -> DataFrame:
    """(id, layer) longest-path levels over directed ``edges``
    (src, dst).  ``edges`` must be acyclic: a cycle never converges
    and the loop warns at ``max_rounds`` (a cap artifact, not a
    layering)."""
    spark = edges.sparkSession
    n_shuffle = tables.shuffle_partitions(spark)
    de = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .repartition(n_shuffle, "src")
        .persist()
    )
    init = (
        de.select(F.col("src").alias("id"))
        .union(de.select(F.col("dst").alias("id")))
        .distinct()
        .select("id", F.lit(0).cast("long").alias("layer"))
    )

    def step(state: DataFrame, k: int) -> DataFrame:
        cand = (
            de.join(state.withColumnRenamed("id", "src"), on="src")
            .groupBy(F.col("dst").alias("id"))
            .agg((F.max("layer") + 1).alias("cand"))
        )
        return state.join(cand, on="id", how="left").select(
            "id",
            F.greatest("layer", F.coalesce("cand", F.lit(0))).alias("layer"),
            (F.coalesce("cand", F.lit(0)) > F.col("layer")).alias("grew"),
        )

    result = fixpoint(init, step, F.col("grew"), max_iter=max_rounds)
    if not result.converged:
        warnings.warn(
            f"dag_layers: max_rounds={max_rounds} hit with layers still "
            "growing — input has a cycle or depth > max_rounds; result "
            "is a lower bound",
            stacklevel=2,
        )
    de.unpersist()
    return result.state.select("id", "layer")


def dag_layers_oracle_sql(edges_cte: str, rounds: int) -> str:
    """Unrolled MAX-propagation rounds over a CTE ``edges(src, dst)``
    (directed, assumed acyclic).  ``rounds`` must be >= the critical-
    path length — the compare fails loudly if short."""
    ctes = [
        edges_cte.strip(),
        """de AS MATERIALIZED (
    SELECT DISTINCT src, dst FROM edges WHERE src <> dst)""",
        """l0 AS MATERIALIZED (
    SELECT id, CAST(0 AS BIGINT) AS layer FROM (
        SELECT src AS id FROM de UNION SELECT dst FROM de))""",
    ]
    for k in range(rounds):
        ctes.append(
            f"""l{k + 1} AS MATERIALIZED (
    SELECT v.id,
           GREATEST(v.layer, COALESCE(c.cand, 0)) AS layer
    FROM l{k} v LEFT JOIN (
        SELECT e.dst AS id, MAX(l.layer) + 1 AS cand
        FROM de e JOIN l{k} l ON l.id = e.src
        GROUP BY e.dst) c
    ON c.id = v.id)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id, layer FROM l{rounds}"
    )
