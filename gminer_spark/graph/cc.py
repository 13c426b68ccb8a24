"""Connected components via hash-min label exchange.

The reference implements exactly this as ``subG_hashmin``
(/root/reference/partition/BPartitioner.tpp:91-165): every vertex
starts labeled with its own id, broadcasts its label, keeps the min of
incoming messages, votes to halt when unchanged; the min-combiner
(/root/reference/partition/BDGPartitioner.tpp:259-263) folds duplicate
messages pre-shuffle.

Spark mapping: messages = edges ⋈ state, the combiner is partial
aggregation inside ``groupBy(dst).min(label)``, vote-to-halt is the
``changed == 0`` driver-side test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gminer_spark.checkpoint import CheckpointStore
from gminer_spark.graph import tables
from gminer_spark.graph.superstep import SuperstepResult, fixpoint


def connected_components(
    edges: DataFrame,
    max_iter: int = 200,
    store: CheckpointStore | None = None,
    resume: bool = True,
) -> SuperstepResult:
    """Hash-min CC over ``edges(src, dst)`` (treated as undirected).

    Returns state ``(id, component)`` where ``component`` is the
    minimum vertex id in the component — exact parity with the
    reference semantics and with a union-find oracle.
    """
    spark = edges.sparkSession
    # sizing count on a persisted input: expensive upstream lineage
    # materializes once, and symmetrize below reads the cached rows
    edges, n_in, we_persisted = tables.ensure_materialized(edges)
    n_shuffle = tables.sized_partitions(spark, n_in)
    sym = tables.symmetrize(edges).repartition(n_shuffle, "src").persist()
    edge_count = sym.count()
    if we_persisted:
        edges.unpersist()

    # state carries an `active` flag — the vote-to-halt mechanism
    # (/root/reference/partition/BVertex.tpp:56-66): only vertices whose
    # label changed last round broadcast this round, so message volume
    # tracks the shrinking frontier instead of |E| every superstep.
    # Correct for hash-min because label propagation is monotone.
    init = tables.vertices(sym).select(
        "id", F.col("id").alias("component"), F.lit(True).alias("active")
    )

    def step(state: DataFrame, k: int) -> DataFrame:
        frontier = state.where(F.col("active"))
        msgs = (
            sym.join(frontier, sym.src == frontier.id)
            .select("dst", "component")
            .groupBy("dst")
            .agg(F.min("component").alias("msg"))
        )
        # the round plan references state twice (frontier + join):
        # fixpoint's lazy barrier keeps it origin-free, and the
        # changed-count that materializes it is the vote-to-halt signal
        return state.join(msgs, state.id == msgs.dst, "left").select(
            "id",
            F.least(
                F.col("component"), F.coalesce(F.col("msg"), F.col("component"))
            ).alias("component"),
            F.coalesce(F.col("msg") < F.col("component"), F.lit(False)).alias(
                "active"
            ),
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
    result.state = result.state.select("id", "component")
    sym.unpersist()
    return result


def incremental_cc(
    prev: DataFrame, new_edges: DataFrame, max_iter: int = 200
) -> DataFrame:
    """Fold a batch of NEW edges into an existing ``(id, component)``
    labeling without recomputing components from scratch.

    The reference recomputes ``subG_hashmin`` per run
    (/root/reference/partition/BPartitioner.tpp:91-165); this is the
    streaming-maintenance extension: because labels are component-min
    ids, a new edge can only MERGE components, so it suffices to

    1. label the batch endpoints with their current component (new
       vertices label themselves),
    2. contract the batch to a component-level merge graph (≤ |batch|
       edges after dedup),
    3. run hash-min CC on that tiny graph, and
    4. relabel: one broadcast-gated mapping join over the big table.

    Exactness: each merged label is the min over the merged components'
    previous min-ids — i.e. the global component min — so the result
    is bit-identical to a full recompute on old ∪ new edges.  Cost per
    batch is one shuffle join of the batch against ``prev`` plus one
    map-side relabel pass; nothing iterates over the full graph.
    """
    from gminer_spark.graph.triangles import gated_broadcast

    spark = prev.sparkSession
    endpoints = tables.vertices(new_edges)
    labeled = (
        endpoints.join(prev, on="id", how="left")
        .select("id", F.coalesce("component", F.col("id")).alias("comp"))
        .localCheckpoint()  # batch-endpoint sized, reused thrice below
    )
    n_batch = labeled.count()
    lab_src = labeled.select(F.col("id").alias("src"), F.col("comp").alias("csrc"))
    lab_dst = labeled.select(F.col("id").alias("dst"), F.col("comp").alias("cdst"))
    comp_edges = (
        new_edges.select("src", "dst")
        .join(gated_broadcast(lab_src, n_batch), on="src")
        .join(gated_broadcast(lab_dst, n_batch), on="dst")
        .select(F.col("csrc").alias("src"), F.col("cdst").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    if comp_edges.isEmpty():
        mapping = spark.createDataFrame([], "comp long, merged long")
    else:
        mapping = (
            connected_components(comp_edges, max_iter=max_iter)
            .state.select(
                F.col("id").alias("comp"), F.col("component").alias("merged")
            )
            .localCheckpoint()
        )
    new_only = labeled.join(prev.select("id"), on="id", how="left_anti")
    everyone = prev.select("id", F.col("component").alias("comp")).unionByName(
        new_only
    )
    return everyone.join(
        gated_broadcast(mapping, n_batch), on="comp", how="left"
    ).select("id", F.coalesce("merged", F.col("comp")).alias("component"))


class CCMaintainer:
    """Streaming CC: feed edge batches (e.g. from ``foreachBatch``),
    read ``labels`` between updates.  Each update materializes the
    labeling via ``localCheckpoint`` so lineage never chains across
    batches; per-partition metrics stay available through the batch
    runs' CheckpointStore when one is attached to the initial run."""

    def __init__(self) -> None:
        self.labels: DataFrame | None = None

    def update(self, batch_edges: DataFrame) -> DataFrame:
        if batch_edges.isEmpty():
            if self.labels is None:
                raise ValueError("first batch must contain edges")
            return self.labels
        if self.labels is None:
            self.labels = connected_components(batch_edges).state.localCheckpoint()
        else:
            self.labels = incremental_cc(self.labels, batch_edges).localCheckpoint()
        return self.labels
