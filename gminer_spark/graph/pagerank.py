"""PageRank on the superstep framework.

Not implemented in the reference (its README positions GMiner against
PageRank-style systems, /root/reference/README.md:5) — semantics are
fixed by BASELINE.json: damping 0.85, dangling-mass redistribution,
per-vertex allclose 1e-6 at convergence.

Each superstep is one join and one message shuffle, the reference's
BSP round (its partition/BPartitioner.tpp:104-161), where a vertex's
own value reaches its next compute as a message:

    msgs      = edges⁺ ⋈ state (on src)
                  edge row (u, v):  rank_u · w / out_deg_u  → v
                  self row (v, v):  0.0, out_deg_v [, reset_v] → v
    state'    = msgs.groupBy(id): Σ contributions, the self row's columns
    new_rank  = (1-d)/N + d * (Σ + dangling/N)

``edges⁺`` is the edge table plus one self row per vertex,
hash-partitioned on ``src`` and persisted once; the round reads the
state once, joins no degree table, and its last stage reads the
message shuffle, so AQE sizes its partitions.  The degree table is one
aggregation over the input, checkpointed once, whose observation
yields |V| (|E| is the input's row count).  ``dangling`` = Σ rank over
out_deg == 0 of the previous state is a driver-side scalar collected
by the action that materialized that state (an ``Observation`` on the
store write or ``localCheckpoint``; one more column of the delta
aggregate in tol mode), so no round plan carries a dangling aggregate.
Under AQE each shuffle stage is its own Spark job, so a round runs a
few jobs, none of them bookkeeping.

Spark's partial aggregation is the message combiner
(/root/reference/util/vecs.tpp:79-107 analog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from gminer_spark.checkpoint import CheckpointStore
from gminer_spark.graph import tables
from gminer_spark.graph.superstep import SuperstepResult, run_supersteps


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    num_iter: int | None = None,
    store: CheckpointStore | None = None,
    resume: bool = True,
    weight_col: str | None = None,
    reset: DataFrame | None = None,
    init_state: DataFrame | None = None,
) -> SuperstepResult:
    """PageRank over a directed ``edges(src, dst)`` DataFrame.

    Returns state ``(id, rank)``.  ``num_iter`` forces an exact
    iteration count (oracle parity mode); otherwise the loop stops at
    L1 delta < ``tol``.

    ``weight_col`` names an edge-weight column: contributions become
    ``rank * w / Σ_out w`` (out-STRENGTH replaces out-degree; weights
    must be positive).  ``reset`` is a 1-column ``(id)`` DataFrame of
    teleport seeds — personalized PageRank: both the teleport term and
    the dangling-mass redistribution land uniformly on the seed set
    instead of all vertices, and the walk starts from the seeds.  The
    plan shape is identical in every variant: one join and one message
    shuffle per superstep, dangling mass as a literal carried from the
    previous round's action.

    ``init_state`` is a ``(id, rank)`` DataFrame to WARM-START from
    (e.g. the previous run's ranks after an edge batch arrived).  The
    update is an affine L1-contraction with factor = damping, so it
    converges to the same unique fixpoint from any start — warm starts
    change only the superstep count, not the answer.  Vertices absent
    from ``init_state`` start at the cold-start value.
    """
    spark = edges.sparkSession
    # The sizing count runs on a PERSISTED input so expensive upstream
    # lineage (e.g. the co-purchase self-join) materializes exactly once;
    # its row count is |E|.
    edges_in, edge_count, we_persisted = tables.ensure_materialized(edges)
    n_shuffle = tables.sized_partitions(spark, edge_count)
    if weight_col is not None:
        edges = edges_in.select(
            "src", "dst", F.col(weight_col).cast("double").alias("w")
        )
        strength, no_strength = F.col("w"), F.lit(0.0)
    else:
        edges = edges_in.select("src", "dst")
        strength, no_strength = F.lit(1).cast("long"), F.lit(0).cast("long")
    # Degree table in ONE aggregation, checkpointed once: every vertex
    # appears as a source (its strength) or a sink (0), so sink-only
    # vertices get out_deg 0 without a distinct + join.  The checkpoint's
    # job also yields |V|.
    out_deg, n = tables.counted_checkpoint(
        edges.select(F.col("src").alias("id"), strength.alias("out_deg"))
        .unionByName(edges.select(F.col("dst").alias("id"), no_strength.alias("out_deg")))
        .groupBy("id")
        .agg(F.sum("out_deg").alias("out_deg"))
    )
    if n == 0:
        if we_persisted:
            edges_in.unpersist()
        empty = spark.createDataFrame([], "id long, rank double")
        return SuperstepResult(empty, 0, 0, True, [])
    # The static message table: every edge, plus one self row (v, v) per
    # vertex that carries v's own columns to its next state, persisted
    # once hash-partitioned on src (the round's join key).
    msg_edges = (
        edges.withColumn("_self", F.lit(False))
        .unionByName(
            out_deg.select(
                F.col("id").alias("src"),
                F.col("id").alias("dst"),
                *([no_strength.alias("w")] if weight_col is not None else []),
                F.lit(True).alias("_self"),
            )
        )
        .repartition(n_shuffle, "src")
        .persist()
    )

    if reset is not None:
        # Seed set is tiny relative to |V| (that's the point of PPR) —
        # broadcast the membership probe; reset mass 1/|S| per seed.
        # materialize the (tiny) seed set once: its lineage may be an
        # expensive derive (vertices() over the edge table) that would
        # otherwise run again for the broadcast below
        seeds, n_seeds = tables.counted_checkpoint(
            reset.select(F.col("id").cast("long").alias("id")).distinct()
        )
        if n_seeds == 0:
            raise ValueError("personalized PageRank needs a non-empty seed set")
        vertices = out_deg.join(
            F.broadcast(seeds.withColumn("_s", F.lit(True))), on="id", how="left"
        ).select(
            "id",
            "out_deg",
            F.when(F.col("_s"), F.lit(1.0 / n_seeds)).otherwise(F.lit(0.0)).alias("reset"),
        )
        cold = F.col("reset")
        carry = ["out_deg", "reset"]
    else:
        vertices = out_deg
        cold = F.lit(1.0 / n)
        carry = ["out_deg"]
    if init_state is not None:
        init = (
            vertices.join(
                init_state.select("id", F.col("rank").alias("_warm")), on="id", how="left"
            )
            .select("id", F.coalesce("_warm", cold).alias("rank"), *carry)
        )
    else:
        init = vertices.select("id", cold.alias("rank"), *carry)

    teleport = (1.0 - damping) / n
    share = (
        (F.col("rank") * F.col("w") / F.col("out_deg"))
        if weight_col is not None
        else (F.col("rank") / F.col("out_deg"))
    )
    # a self row sends 0.0 (never dividing by a dangling vertex's
    # out_deg = 0) and carries the state's static columns
    messages = [F.when(F.col("_self"), F.lit(0.0)).otherwise(share).alias("contrib")]
    messages += [F.when(F.col("_self"), F.col(c)).alias(c) for c in carry]
    combine = [F.sum("contrib").alias("contrib")]
    combine += [F.max(c).alias(c) for c in carry]
    dangling_sum = F.coalesce(
        F.sum(F.when(F.col("out_deg") == 0, F.col("rank"))), F.lit(0.0)
    ).alias("_dangling")

    # Σ rank over out_deg == 0 of superstep k's state, taken by the
    # action that materializes superstep k: an Observation on the store
    # write / localCheckpoint, or a column of tol mode's delta
    # aggregate.  Superstep k+1 pops it as a scalar.  Only a state this
    # call did not materialize (resumed from the store) has no entry.
    dangling: dict[int, Observation | float] = {}

    def observed(state: DataFrame, k: int) -> DataFrame:
        obs = Observation()
        dangling[k] = obs
        return state.observe(obs, dangling_sum)

    resuming = store is not None and resume and bool(store.committed_steps())
    if not resuming:
        init = observed(init, 0)

    # The first round's action materializes msg_edges, the last reader
    # of an input persisted here: the next round releases it.
    rounds_built = 0

    def step(state: DataFrame, k: int):
        nonlocal rounds_built
        rounds_built += 1
        if rounds_built == 2 and we_persisted:
            edges_in.unpersist()
        prev = dangling.pop(k - 1, None)
        if prev is None:
            d = state.agg(dangling_sum).first()[0]
        elif isinstance(prev, Observation):
            d = prev.get["_dangling"]
        else:
            d = prev
        if reset is not None:
            rank_expr = F.lit(1.0 - damping) * F.col("reset") + F.lit(damping) * (
                F.col("contrib") + F.lit(d) * F.col("reset")
            )
        else:
            rank_expr = F.lit(teleport) + F.lit(damping) * (
                F.col("contrib") + F.lit(d) / F.lit(float(n))
            )
        # the superstep: one join on src, one message shuffle on dst
        new_state = (
            msg_edges.join(state, msg_edges.src == state.id)
            .select(F.col("dst").alias("id"), *messages)
            .groupBy("id")
            .agg(*combine)
            .select("id", rank_expr.alias("rank"), *carry)
        )
        metrics = {
            "edges_scanned": edge_count,
            "messages_shuffled": edge_count + n,
        }
        if num_iter is None:
            # ONE action per superstep: the lazy barrier is materialized
            # by the delta aggregate, which is the convergence signal and
            # also carries the next round's dangling mass; _checkpointed
            # stops the framework from re-encoding the leaf.
            new_state = tables.plan_barrier(new_state, eager=False)
            delta, dangling[k] = (
                new_state.join(
                    state.select("id", F.col("rank").alias("old")), on="id"
                )
                .agg(F.sum(F.abs(F.col("rank") - F.col("old"))), dangling_sum)
                .first()
            )
            metrics["delta"] = float(delta)
            metrics["_checkpointed"] = True
        else:
            # run_supersteps materializes the round (store write or
            # localCheckpoint); the observation rides that action
            new_state = observed(new_state, k)
        return new_state, metrics

    # Fixed-iteration rounds are materialized by run_supersteps itself
    # (one store write, or one eager localCheckpoint, with no re-encode).
    # A fully-fused variant — all supersteps composed lazily behind
    # plan_barriers, one action total — measured ~13% SLOWER in r6:
    # plan_barrier's Row<->InternalRow re-encode per superstep is
    # O(|V|) added work that outweighs the saved driver round trips.
    if num_iter is not None:
        converged = lambda m: m["superstep"] >= num_iter  # noqa: E731
        max_iter = num_iter
    else:
        converged = lambda m: m["delta"] < tol  # noqa: E731

    result = run_supersteps(
        init, step, converged, max_iter=max_iter, store=store, resume=resume
    )
    result.state = result.state.select("id", "rank")
    msg_edges.unpersist()
    if we_persisted:
        edges_in.unpersist()
    return result


def ppr_batch(
    edges: DataFrame,
    seeds: DataFrame,
    damping: float = 0.85,
    num_iter: int = 10,
) -> DataFrame:
    """(s, id, rank) — one personalized PageRank vector PER seed, all
    seeds propagated simultaneously with state keyed ``(s, id)`` (the
    recommendation primitive: rank of id in seed s's walk).

    Differs from ``pagerank(reset=...)``, which spreads ONE teleport
    vector across the whole seed set.  State rows exist only for
    reached pairs (ranks are 0 elsewhere), so cost scales with
    Σ|reach(s)| rather than |S|·|V|; each superstep is the standard
    edges ⋈ state shuffle plus a broadcast |S|-row dangling table —
    the batched-task pattern (many tasks, one plan) the mining
    kernels use.
    """
    spark = edges.sparkSession
    edges_in, n_in, we_persisted = tables.ensure_materialized(edges)
    n_shuffle = tables.sized_partitions(spark, n_in)
    e = edges_in.select("src", "dst").repartition(n_shuffle, "src").persist()
    deg = (
        e.groupBy(F.col("src").alias("id"))
        .agg(F.count("*").cast("long").alias("out_deg"))
        .persist()
    )
    deg.count()
    if we_persisted:
        edges_in.unpersist()
    base = (
        seeds.select(F.col("id").cast("long").alias("s"))
        .distinct()
        .select("s", F.col("s").alias("id"))
        .localCheckpoint()
    )
    state = base.select("s", "id", F.lit(1.0).alias("rank"))
    # per-iteration eager localCheckpoint: already one job per round
    # with no re-encode (see pagerank's fixed-iteration note — the
    # fused plan_barrier variant measured slower in r6).
    for _ in range(num_iter):
        ranked = state.join(deg, on="id", how="left").select(
            "s", "id", "rank", F.coalesce("out_deg", F.lit(0)).alias("out_deg")
        )
        dang = (
            ranked.where(F.col("out_deg") == 0)
            .groupBy("s")
            .agg(F.sum("rank").alias("_dang"))
        )
        contribs = (
            e.join(ranked, e.src == ranked.id)
            .select("s", F.col("dst").alias("id"), (F.col("rank") / F.col("out_deg")).alias("c"))
            .groupBy("s", "id")
            .agg(F.sum("c").alias("contrib"))
        )
        state = (
            contribs.join(base.withColumn("_seed", F.lit(True)), on=["s", "id"], how="full")
            .join(F.broadcast(dang), on="s", how="left")
            .select(
                "s",
                "id",
                (
                    F.lit(1.0 - damping) * F.coalesce(F.col("_seed").cast("double"), F.lit(0.0))
                    + F.lit(damping)
                    * (
                        F.coalesce("contrib", F.lit(0.0))
                        + F.coalesce("_dang", F.lit(0.0))
                        * F.coalesce(F.col("_seed").cast("double"), F.lit(0.0))
                    )
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    e.unpersist()
    deg.unpersist()
    return state


def ppr_batch_oracle_sql(
    edges_cte: str, seed_pred: str, iters: int, damping: float = 0.85
) -> str:
    """Unrolled per-seed PPR: state keyed (s, id), reached pairs only
    (identical row-set growth to the engine — reach is monotone)."""
    ctes = [
        f"{edges_cte.strip()}",
        """sym AS MATERIALIZED (
    SELECT src, dst FROM edges
    UNION SELECT dst AS src, src AS dst FROM edges)""",
        """verts AS MATERIALIZED (SELECT DISTINCT src AS id FROM sym)""",
        """deg AS MATERIALIZED (
    SELECT v.id, COALESCE(o.c, 0) AS out_deg
    FROM verts v LEFT JOIN (
        SELECT src, COUNT(*) AS c FROM edges GROUP BY src) o
    ON v.id = o.src)""",
        f"""seeds AS MATERIALIZED (
    SELECT id AS s, id FROM verts WHERE {seed_pred})""",
        "p0 AS MATERIALIZED (SELECT s, id, 1.0 AS rank FROM seeds)",
    ]
    for k in range(1, iters + 1):
        p = f"p{k - 1}"
        ctes.append(
            f"""p{k} AS MATERIALIZED (
    SELECT COALESCE(c.s, b.s) AS s, COALESCE(c.id, b.id) AS id,
           (1.0 - {damping}) * (CASE WHEN b.s IS NOT NULL THEN 1.0 ELSE 0.0 END)
           + {damping} * (
               COALESCE(c.contrib, 0.0)
               + COALESCE(dg.dang, 0.0)
                 * (CASE WHEN b.s IS NOT NULL THEN 1.0 ELSE 0.0 END)
           ) AS rank
    FROM (
        SELECT r.s, e.dst AS id, SUM(r.rank / d.out_deg) AS contrib
        FROM edges e
        JOIN {p} r ON e.src = r.id
        JOIN deg d ON d.id = r.id
        GROUP BY r.s, e.dst) c
    FULL OUTER JOIN seeds b ON c.s = b.s AND c.id = b.id
    LEFT JOIN (
        SELECT r.s, SUM(r.rank) AS dang
        FROM {p} r JOIN deg d ON d.id = r.id
        WHERE d.out_deg = 0 GROUP BY r.s) dg
    ON COALESCE(c.s, b.s) = dg.s)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT s, id, CAST(ROUND(rank * 1e6) AS BIGINT) AS rank_micro
FROM p{iters}"""
    )


class PageRankMaintainer:
    """Streaming PageRank: feed edge batches (e.g. from
    ``foreachBatch``), read ``ranks`` between updates.

    Each update unions the batch into the accumulated edge table
    (dedup'd, materialized via ``localCheckpoint`` so lineage never
    chains across batches) and re-converges WARM-STARTED from the
    previous ranks — the same fixpoint a cold run reaches (the update
    is an L1 contraction), usually in far fewer supersteps when the
    batch perturbs the graph mildly."""

    def __init__(self, damping: float = 0.85, tol: float = 1e-6) -> None:
        self.damping = damping
        self.tol = tol
        self.edges: DataFrame | None = None
        self.ranks: DataFrame | None = None
        self.last_supersteps = 0

    def update(self, batch_edges: DataFrame) -> DataFrame:
        batch = batch_edges.select("src", "dst")
        if self.edges is None:
            self.edges = batch.distinct().localCheckpoint()
        else:
            self.edges = (
                self.edges.unionByName(batch).distinct().localCheckpoint()
            )
        res = pagerank(
            self.edges,
            damping=self.damping,
            tol=self.tol,
            init_state=self.ranks,
        )
        self.ranks = res.state.localCheckpoint()
        self.last_supersteps = res.supersteps_run
        return self.ranks
