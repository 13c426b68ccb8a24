"""k-core / coreness by iterative degree peeling.

The reference has no standalone k-core app, but degree thresholds are
its seed gates (e.g. /root/reference/apps/trianglecount.cpp:139-140
skips adjlist.size() <= 1 seeds; community.cpp:375-387 gates tasks on
candidate counts) and degree sorting is its task order
(core/task_sorter.tpp).  k-core generalizes those filters into a
fixpoint: repeatedly drop vertices whose degree *within the survivor
set* is < k.  Standard link-graph analytics over the same edge table
(SURVEY.md §2.10 analog set).

Spark shape: the survivor set is a small (id) table; each peel round
is two survivor joins + one count aggregate — all shuffle-bounded on
the edge table's keys, lineage truncated per round.  Convergence is
detected by an unchanged survivor count; peeling is idempotent past
the fixpoint, so a run capped at N >= convergence rounds equals the
N-times-unrolled SQL oracle exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gminer_spark.graph import tables
from gminer_spark.graph.superstep import fixpoint, peel


def _symmetric(edges: DataFrame) -> DataFrame:
    """The persisted, src-partitioned symmetric edge table a peel scans."""
    spark = edges.sparkSession
    return (
        tables.symmetrize(edges)
        .repartition(tables.shuffle_partitions(spark), "src")
        .persist()
    )


def _peel_step(sym: DataFrame, k: int, measure: Column):
    """The peel round for :func:`superstep.peel`: keep the survivors
    whose ``measure`` over their survivor-induced edges is >= ``k``.

    ``measure`` aggregates the ``sym`` rows of one src (``F.count("*")``
    for degree, ``F.sum("w")`` for strength).  The survivor set shrinks
    monotonically, so under the broadcast gate BOTH membership joins are
    map-side hash probes of the persisted edge table — a round shuffles
    only the (small) aggregated measure table.  Above the gate: ordinary
    shuffle joins.
    """
    from gminer_spark.graph.triangles import gated_broadcast

    def step(core: DataFrame, n: int) -> DataFrame:
        c_src = gated_broadcast(core.withColumnRenamed("id", "src"), n)
        c_dst = gated_broadcast(core.withColumnRenamed("id", "dst"), n)
        return (
            sym.join(c_src, on="src")
            .join(c_dst, on="dst")
            .groupBy("src")
            .agg(measure.alias("m"))
            .where(F.col("m") >= k)
            .select(F.col("src").alias("id"))
        )

    return step


def k_core(edges: DataFrame, k: int, max_iter: int = 50) -> DataFrame:
    """(id) — vertices of the k-core of the undirected graph."""
    sym = _symmetric(edges)
    core, n = tables.counted_checkpoint(tables.vertices(sym))
    core, _, _ = peel(core, n, _peel_step(sym, k, F.count("*")), max_iter)
    sym.unpersist()
    return core


def coreness(edges: DataFrame, max_k: int | None = None) -> DataFrame:
    """(id, coreness) — max k such that the vertex is in the k-core.

    Peels k = 1, 2, ... from the previous core (k-cores are nested, so
    each level starts from the prior survivor set); stops when the
    core empties or ``max_k`` is reached.  Cost is one k_core-style
    loop per level — fine for the moderate degeneracy of web-ish
    graphs; for huge k_max switch to h-index iteration.
    """
    sym = _symmetric(edges)
    core, n_core = tables.counted_checkpoint(tables.vertices(sym))
    result = core.select("id", F.lit(0).alias("coreness"))
    k = 0
    while max_k is None or k < max_k:
        k += 1
        # peel the (k)-core out of the previous survivor set
        core, n_core, _ = peel(core, n_core, _peel_step(sym, k, F.count("*")))
        if n_core == 0:
            break
        result = (
            result.join(
                core.withColumn("in_core", F.lit(True)), on="id", how="left"
            )
            .select(
                "id",
                F.when(F.col("in_core"), F.lit(k))
                .otherwise(F.col("coreness"))
                .alias("coreness"),
            )
            .localCheckpoint()
        )
    sym.unpersist()
    return result


def s_core(
    edges: DataFrame, k: int, weight_col: str, max_iter: int = 50
) -> DataFrame:
    """(id) — the s-core: repeatedly drop vertices whose STRENGTH
    (sum of incident edge weights within the survivor set) is < k.

    The weighted generalization of :func:`k_core` (Eidsaa & Almaas,
    Phys. Rev. E 88, 2013); integer weights keep the peel exact across
    engines.  Same peel loop as k_core with the degree count swapped
    for a weight sum.
    """
    spark = edges.sparkSession
    fwd = edges.select("src", "dst", F.col(weight_col).cast("long").alias("w"))
    rev = fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    sym = (
        fwd.unionByName(rev)
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .repartition(tables.shuffle_partitions(spark), "src")
        .persist()
    )
    core, n = tables.counted_checkpoint(tables.vertices(sym))
    core, _, _ = peel(core, n, _peel_step(sym, k, F.sum("w")), max_iter)
    sym.unpersist()
    return core


def score_oracle_sql(wedges_cte: str, k: int, iters: int) -> str:
    """Unrolled s-core peel: ``wedges_cte`` must define
    ``wedges(src, dst, w)``; survivors need strength >= k."""
    ctes = [
        f"{wedges_cte.strip()}",
        """wsym AS MATERIALIZED (
    SELECT src, dst, w FROM wedges
    UNION SELECT dst AS src, src AS dst, w FROM wedges)""",
        "sc0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM wsym)",
    ]
    for i in range(1, iters + 1):
        p = f"sc{i - 1}"
        ctes.append(
            f"""sc{i} AS MATERIALIZED (
    SELECT s.src AS id
    FROM wsym s
    JOIN {p} a ON s.src = a.id
    JOIN {p} b ON s.dst = b.id
    GROUP BY s.src
    HAVING SUM(s.w) >= {k})"""
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT id FROM sc{iters}"


# h-index steps composed per action in coreness_hindex's free-running
# mode (the convergence guard is exact for ANY value — see the
# MULTI-STEP note in the docstring).  Same-session sweep at sf0.1
# (r6, quiet box, min-of-2): k=2 20.0s, k=4 21.3s, k=6/8 22.8s — the
# nested-barrier depth per action costs more than the saved actions
# past k=2, while the INTER-STEP BARRIER itself is the win vs the
# r5 bare two-step composition (24.4s: 2 refs/step duplicate the
# round subtree 4x without it).
_HSTEPS_PER_ROUND = 2


def coreness_hindex(
    edges: DataFrame,
    num_iter: int | None = None,
    max_iter: int = 100,
) -> DataFrame:
    """(id, coreness) via the iterated-h-index fixpoint.

    ``h_0 = degree``; ``h_k(v) = H({h_{k-1}(u) : u ∈ N(v)})`` where H
    is the h-index operator (largest h with ≥ h neighbors valued ≥ h).
    The sequence is per-vertex monotone non-increasing and converges
    exactly to coreness (Lü et al., Nature Communications 7:10168,
    2016) — the scale path for coreness: O(rounds) full passes instead
    of :func:`coreness`'s peel loop per k level, each round a single
    window+aggregate on the neighbor key (one shuffle, reused by the
    groupBy).  ``num_iter`` forces a fixed round count (oracle parity;
    idempotent past the fixpoint), else stops when no vertex changed.

    Every state update crosses :func:`tables.plan_barrier`: the round
    plan references the state twice (neighbor values + carried rows),
    and Spark 4's localCheckpoint origin chain would otherwise DOUBLE
    per round (measured geometric 0.5s -> 25s/round by round 16).
    The barrier is lazy — the changed-count is each round's single
    materializing action.

    MULTI-STEP rounds (free-running mode only): with ``num_iter``
    None, each barrier+action covers ``_HSTEPS_PER_ROUND`` h-index
    steps composed lazily, with a LAZY plan_barrier BETWEEN the
    composed steps — each step references its input twice (histogram
    + carried prev), so bare composition duplicates the round subtree
    2^k-fold (r6 measured 5x slower at k=4 without the barrier).  The
    fixpoint is unchanged (H is monotone non-increasing per vertex:
    val == old across a composed round iff NO inner step moved any
    vertex — once a step lowers a value it can never recover), so the
    convergence guard stays exact for any step count.  r6 swept k at sf0.1: k=2 wins (see the
    ``_HSTEPS_PER_ROUND`` note) — the barrier between the two steps,
    not a bigger k, is what beat the r5 form.  ``num_iter`` mode keeps
    single steps so a run of N rounds equals the N-times-unrolled
    oracle state-for-state.
    """
    from pyspark.sql import Window

    spark = edges.sparkSession
    sym = (
        tables.symmetrize(edges)
        .repartition(tables.shuffle_partitions(spark), "dst")
        .persist()
    )
    init = sym.groupBy(F.col("src").alias("id")).agg(
        F.count("*").cast("long").alias("val")
    )
    rounds = num_iter if num_iter is not None else max_iter
    # H over a multiset = max over DISTINCT values v of min(v, #{≥v}):
    # aggregate to a per-(id, val) histogram first (map-side combined),
    # then a cumulative window over distinct values only.  A hub with
    # 10^6 neighbors contributes ≤ k_max rows to its window partition
    # instead of 10^6 — the skew-robust form of the h-index operator.
    w = (
        Window.partitionBy("id")
        .orderBy(F.desc("val"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    def h_step(cur: DataFrame) -> DataFrame:
        """One lazy h-index step: (id, val) -> (id, val)."""
        e, st = sym.alias("e"), cur.alias("st")
        hist = (
            e.join(st, F.col("e.dst") == F.col("st.id"))
            .groupBy(F.col("e.src").alias("id"), F.col("st.val").alias("val"))
            .agg(F.count("*").alias("cnt"))
        )
        new_vals = (
            hist.withColumn("cum", F.sum("cnt").over(w))
            .groupBy("id")
            .agg(
                F.max(F.least(F.col("cum"), F.col("val")))
                .cast("long")
                .alias("nv")
            )
        )
        return (
            cur.withColumnRenamed("val", "prev")
            .join(new_vals, on="id")
            .select("id", F.coalesce("nv", "prev").alias("val"))
        )

    # multi-step only when free-running: num_iter mode must match the
    # single-step unrolled oracle round count.
    steps = _HSTEPS_PER_ROUND if num_iter is None else 1

    def step(state: DataFrame, k: int) -> DataFrame:
        cur = state
        for s in range(steps):
            cur = h_step(cur)
            # lazy barrier BETWEEN composed steps: h_step references its
            # input twice (histogram + carried prev), so an unbarriered
            # k-step composition duplicates the round subtree 2^k times
            # (measured: 4 bare steps ran ~5x SLOWER than 2 at sf0.1 —
            # exchange reuse does not cover it); behind leaves the
            # composition stays linear and the round's single action
            # materializes every inner step once.
            if s < steps - 1:
                cur = tables.plan_barrier(cur, eager=False)
        return (
            state.select("id", F.col("val").alias("old"))
            .join(cur, on="id")
            .select("id", "val", "old")
        )

    # rounds past the fixpoint are no-ops, so num_iter stops there too
    state = fixpoint(init, step, F.col("val") != F.col("old"), max_iter=rounds).state
    sym.unpersist()
    return state.select("id", F.col("val").alias("coreness"))


def coreness_hindex_oracle_sql(edges_cte: str, iters: int) -> str:
    """Unrolled h-index rounds as a MATERIALIZED CTE chain — a FULL
    value oracle for coreness (tie order inside the window is
    irrelevant: rows are sorted by val, and equal vals yield the same
    h regardless of their relative order)."""
    ctes = [
        f"{edges_cte.strip()}",
        """sym AS MATERIALIZED (
    SELECT src, dst FROM edges
    UNION SELECT dst AS src, src AS dst FROM edges)""",
        """h0 AS MATERIALIZED (
    SELECT src AS id, COUNT(*) AS val FROM sym GROUP BY src)""",
    ]
    for i in range(1, iters + 1):
        p = f"h{i - 1}"
        ctes.append(
            f"""h{i} AS MATERIALIZED (
    SELECT id, COALESCE(MAX(CASE WHEN val >= rn THEN rn END), 0) AS val
    FROM (
        SELECT s.src AS id, p.val,
               ROW_NUMBER() OVER (PARTITION BY s.src ORDER BY p.val DESC) AS rn
        FROM sym s JOIN {p} p ON s.dst = p.id)
    GROUP BY id)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id, CAST(val AS BIGINT) AS coreness FROM h{iters}"
    )


def kcore_oracle_sql(edges_cte: str, k: int, iters: int) -> str:
    """Unrolled peeling as a MATERIALIZED CTE chain (the contract's
    iterative-oracle idiom): c0 = all vertices; c{i} = vertices with
    >= k surviving neighbors in c{i-1}.  Any ``iters`` >= the
    convergence round count yields the fixpoint (idempotent)."""
    ctes = [
        f"{edges_cte.strip()}",
        """sym AS MATERIALIZED (
    SELECT src, dst FROM edges
    UNION SELECT dst AS src, src AS dst FROM edges)""",
        """c0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM sym)""",
    ]
    for i in range(1, iters + 1):
        p = f"c{i - 1}"
        ctes.append(
            f"""c{i} AS MATERIALIZED (
    SELECT s.src AS id
    FROM sym s
    JOIN {p} a ON s.src = a.id
    JOIN {p} b ON s.dst = b.id
    GROUP BY s.src
    HAVING COUNT(*) >= {k})"""
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT id FROM c{iters}"
