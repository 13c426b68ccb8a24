"""Synchronous label propagation (LPA) with deterministic tie-break.

The structural ancestor in the reference is the Voronoi color-spread
superstep (/root/reference/partition/BDGPartitioner.tpp:279-307):
adopt a neighbor's color, rebroadcast.  Classic sync LPA replaces
"first message wins" with "most frequent neighbor label"; for exact
cross-parallelism parity the tie-break is fixed: highest count first,
then smallest label (SURVEY.md §2.10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gminer_spark.checkpoint import CheckpointStore
from gminer_spark.graph import tables
from gminer_spark.graph.superstep import SuperstepResult, fixpoint


def label_propagation(
    edges: DataFrame,
    num_iter: int = 5,
    until_stable: bool = False,
    max_iter: int = 50,
    store: CheckpointStore | None = None,
    resume: bool = True,
    weight_col: str | None = None,
) -> SuperstepResult:
    """Sync LPA over ``edges(src, dst)`` (treated as undirected).

    Returns state ``(id, label)``.  Default is a fixed iteration count
    (sync LPA can oscillate on bipartite structures, so fixed-round is
    the reproducible contract; ``until_stable`` stops early when no
    label changes).

    ``weight_col`` names a non-negative INTEGER edge weight: each
    neighbor's vote counts w times (tie-break stays total: weight sum
    desc, then label asc — integer sums keep the mode deterministic
    across engines and partitionings).
    """
    spark = edges.sparkSession
    # sizing count on a persisted input: expensive upstream lineage
    # materializes once, and symmetrize below reads the cached rows
    edges, n_in, we_persisted = tables.ensure_materialized(edges)
    n_shuffle = tables.sized_partitions(spark, n_in)
    if weight_col is not None:
        fwd = edges.select("src", "dst", F.col(weight_col).cast("long").alias("w"))
        rev = fwd.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
        )
        sym = (
            fwd.unionByName(rev)
            .where(F.col("src") != F.col("dst"))
            .distinct()
            .repartition(n_shuffle, "src")
            .persist()
        )
    else:
        sym = tables.symmetrize(edges).repartition(n_shuffle, "src").persist()
    edge_count = sym.count()
    if we_persisted:
        edges.unpersist()

    init = tables.vertices(sym).select("id", F.col("id").alias("label"))

    def advance(state: DataFrame):
        """One lazy LPA update: (id, label) -> (id, label, _changed)."""
        # groupBy(dst, label).count is the map-side-combined message
        # histogram; the window picks the deterministic mode.
        vote = F.sum("w") if weight_col is not None else F.count("*")
        counts = (
            sym.join(state, sym.src == state.id)
            .groupBy("dst", "label")
            .agg(vote.cast("long").alias("cnt"))
        )
        w = Window.partitionBy("dst").orderBy(
            F.col("cnt").desc(), F.col("label").asc()
        )
        mode = (
            counts.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("dst", F.col("label").alias("new_label"))
        )
        return state.join(mode, state.id == mode.dst, "left").select(
            "id",
            F.coalesce("new_label", "label").alias("label"),
            (F.col("new_label") != F.col("label")).alias("_changed"),
        )

    if not until_stable and store is None:
        # Fixed-iteration path (r6): no changed-signal needed, so each
        # round is exactly ONE job.  SHORT runs use a per-round eager
        # localCheckpoint (no re-encode — measured ~6% faster than the
        # barrier chain, same finding as pagerank's revert); the round
        # plan references state twice (message join + carry), so past
        # 8 rounds the Spark-4 localCheckpoint origin tree would go
        # geometric (the documented 2^rounds pitfall) and the loop
        # switches to origin-free lazy plan_barriers with one
        # materializing action at the end.
        state = init
        if 0 < num_iter <= 8:
            for _ in range(num_iter):
                state = advance(state).drop("_changed").localCheckpoint()
        else:
            for k in range(1, num_iter + 1):
                new_state = advance(state).drop("_changed")
                state = (
                    tables.plan_barrier(new_state, eager=False)
                    if k < num_iter
                    else new_state.localCheckpoint()
                )
        if num_iter == 0:
            state = init.localCheckpoint()
        result = SuperstepResult(state, num_iter, num_iter, True, [])
        sym.unpersist()
        return result

    # until_stable, or a store: one fused barrier + changed-count job per
    # round; a fixed round count also stops at the fixpoint (a round
    # that changes no label is repeated unchanged by every later one)
    result = fixpoint(
        init,
        lambda state, k: advance(state),
        F.col("_changed"),
        max_iter=max_iter if until_stable else num_iter,
        store=store,
        resume=resume,
        metrics={"edges_scanned": edge_count, "messages_shuffled": edge_count},
    )
    result.state = result.state.drop("_changed")
    sym.unpersist()
    return result
