"""Full strongly-connected-component decomposition (directed graph).

Closes the gap VERDICT r3 named: ``bowtie`` (graph/reach.py) answers
the Broder question for ONE pivot's SCC; a web-graph user eventually
wants ALL SCCs — e.g. to contract cycles before PageRank or to size
the condensation DAG.  Output is canonical and algorithm-independent:
``(id, scc_id)`` with ``scc_id`` = the minimum vertex id in the
component, so the value oracle needs no knowledge of the execution
order.

Algorithm — multi-pivot forward-backward peeling (the coloring /
FW-BW-Trim family: Orzan 2004, Slota et al. "Multistep" 2014; the
reference's hash-min BSP loop ``partition/BPartitioner.tpp:91-165`` is
the undirected ancestor of the coloring step).  Each outer round:

1. **Trim** (a capped :func:`superstep.peel`): vertices with no
   in-edge or no out-edge inside the undecided subgraph are singleton
   SCCs — decide them immediately, as the difference of the undecided
   sets before and after the trim.  This kills the long tendril/DAG
   tail that would otherwise cost one coloring round per chain link.
2. **Forward hash-min coloring**: propagate ``lbl(v) = min(v, min
   lbl(u) over in-neighbors u)`` to fixpoint over the undecided
   subgraph — lbl(v) = the smallest undecided vertex that reaches v.
   Same superstep shape as CC: one equi-join + min-combiner per
   level, one fused action per level through a lazy plan barrier.
3. **Backward membership sweep** (a :func:`superstep.grow`): from
   every root (lbl(r) == r), BFS BACKWARD simultaneously for all
   roots, restricted to vertices of the same color — levels keyed
   ``(lbl, id)``, one count per level.  The classic
   invariant: any path from v to its color-root r stays inside color
   r, so the restriction loses nothing.  Reached vertices form
   SCC(r); r is provably the minimum member id.
4. Remove decided vertices and repeat until none remain.

Every per-round structure (undecided set, color table, sweep levels)
is referenced more than once by later plans, so state crosses
``tables.plan_barrier`` — the Spark-4 origin-chain fix — not
``localCheckpoint``; only the roots, one filter over the color leaf,
are a counted ``localCheckpoint``.  All joins are equi-joins on vertex
ids; nothing is ever broadcast un-gated; message volume per coloring
level is bounded by the shrinking frontier, exactly the CC posture.  Rounds
needed = length of the longest chain of "min-rooted" SCCs, small on
web-shaped graphs (giant SCC + singletons); ``max_rounds`` guards
pathologies with a warning rather than a silent wrong answer.
"""

from __future__ import annotations

import functools
import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gminer_spark.graph import tables
from gminer_spark.graph.superstep import fixpoint, grow, peel


def strongly_connected_components(
    edges: DataFrame,
    trim_rounds: int = 16,
    max_rounds: int = 64,
) -> DataFrame:
    """(id, scc_id) over DIRECTED ``edges(src, dst)`` — ``scc_id`` is
    the minimum vertex id of the strongly connected component."""
    spark = edges.sparkSession
    n_shuffle = tables.shuffle_partitions(spark)
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .repartition(n_shuffle, "src")
        .persist()
    )
    # vertex set from the UNFILTERED input: a vertex that appears only
    # via a self-loop is still a (singleton) SCC
    und = tables.plan_barrier(tables.vertices(edges), eager=False)  # (id,)
    n_und = und.count()
    done_parts: list[DataFrame] = []

    def trim(und: DataFrame, n: int) -> DataFrame:
        """Keep the vertices with an in- and an out-edge inside the
        undecided subgraph.  The subgraph is rebuilt from the flat
        persisted base and the state leaf, so the plan stays
        constant-depth: one derived from the previous round's subgraph
        nested ~3x per round, and Spark's per-action explain string
        expanded that into a ~3^rounds tree (driver OOM in
        generateTreeString by round ~14 on a DAG-shaped input)."""
        sub = _subgraph(e, und)
        has_in = sub.select(F.col("dst").alias("id")).distinct()
        return has_in.join(sub.select(F.col("src").alias("id")).distinct(), on="id")

    rounds = 0
    while n_und > 0:
        if rounds >= max_rounds:
            warnings.warn(
                f"strongly_connected_components(): {n_und} vertices still "
                f"undecided after max_rounds={max_rounds} — falling back to "
                "one-SCC-per-round peeling would exceed the round budget; "
                "result below is INCOMPLETE",
                stacklevel=2,
            )
            break
        rounds += 1

        # --- 1. trim: no-in / no-out vertices are singleton SCCs ----
        before = und
        und, n_und, _ = peel(und, n_und, trim, trim_rounds)
        done_parts.append(
            before.join(und, on="id", how="left_anti").select(
                "id", F.col("id").alias("scc_id")
            )
        )
        if n_und == 0:
            break
        # undecided subgraph (both endpoints undecided)
        sub = _subgraph(e, und).persist()

        # --- 2. forward hash-min coloring to fixpoint ---------------
        # converges within n_und rounds (the longest path plus the
        # confirming round), so the cap never fires
        lbl = fixpoint(
            und.select("id", F.col("id").alias("lbl")),
            lambda lbl, k: _color_step(sub, lbl),
            F.col("lbl") != F.col("old"),
            max_iter=n_und,
        ).state.select("id", "lbl")

        # --- 3. backward membership sweep, all roots at once --------
        roots, n_roots = tables.counted_checkpoint(
            lbl.where(F.col("id") == F.col("lbl")).select("lbl", "id")
        )
        levels, n_swept, _ = grow(
            roots, lambda frontier: _sweep_step(sub, lbl, frontier), ["lbl", "id"]
        )
        n_decided = n_roots + n_swept
        decided = functools.reduce(DataFrame.unionByName, levels).select(
            "id", F.col("lbl").alias("scc_id")
        )
        done_parts.append(decided)
        und = tables.plan_barrier(
            und.join(decided.select("id"), on="id", how="left_anti")
        )
        n_und -= n_decided
        sub.unpersist()

    e.unpersist()
    if not done_parts:
        return und.select(
            F.col("id"), F.col("id").alias("scc_id")
        ).limit(0)
    return functools.reduce(DataFrame.unionByName, done_parts).select("id", "scc_id")


def _subgraph(e: DataFrame, und: DataFrame) -> DataFrame:
    """The edges of ``e`` whose endpoints are both in ``und``."""
    return (
        e.join(und.withColumnRenamed("id", "src"), on="src", how="leftsemi")
        .join(und.withColumnRenamed("id", "dst"), on="dst", how="leftsemi")
        .select("src", "dst")
    )


def _sweep_step(sub: DataFrame, lbl: DataFrame, frontier: DataFrame) -> DataFrame:
    """One lazy backward level: the same-color in-neighbours of
    ``frontier(lbl, id)``, distinct ``(lbl, id)``."""
    return (
        sub.join(frontier.withColumnRenamed("id", "dst"), on="dst")
        .select(F.col("src").alias("id"), "lbl")
        .distinct()
        .join(lbl.withColumnRenamed("lbl", "vlbl"), on="id")
        .where(F.col("lbl") == F.col("vlbl"))
        .select("lbl", "id")
    )


def _color_step(sub: DataFrame, lbl: DataFrame) -> DataFrame:
    """One lazy hash-min level: (id, lbl) -> (id, lbl, old)."""
    prop = (
        sub.join(lbl.select(F.col("id").alias("src"), "lbl"), on="src")
        .groupBy(F.col("dst").alias("id"))
        .agg(F.min("lbl").alias("in_lbl"))
    )
    return (
        lbl.select("id", F.col("lbl").alias("old"))
        .join(prop, on="id", how="left")
        .select(
            "id",
            F.least(F.col("old"), F.coalesce("in_lbl", F.col("old"))).alias("lbl"),
            "old",
        )
    )


def condensation(edges: DataFrame, scc: DataFrame | None = None) -> DataFrame:
    """The condensation DAG: contract every SCC to one vertex and keep
    the distinct cross-component edges → ``(src_scc, dst_scc)``.

    This is WHY a web-graph user wants full SCC decomposition (module
    docstring): cycles contracted, the remaining DAG is what
    topological analyses (dead-end mass flow, crawl tiering, bow-tie
    sizing) run on.  Pass a precomputed ``scc`` map ``(id, scc_id)``
    to reuse it; otherwise one is computed here.

    Scale posture: two hash joins of the edge table against the
    (|V|-sized) component map — both keyed on a vertex id, both
    AQE-eligible — then a map-side-combinable distinct on the
    contracted pairs.  The output is bounded by the condensation's
    edge count (tiny on web graphs: giant SCC + tendrils).
    """
    if scc is None:
        scc = strongly_connected_components(edges)
    src_map = scc.select(F.col("id").alias("src"), F.col("scc_id").alias("src_scc"))
    dst_map = scc.select(F.col("id").alias("dst"), F.col("scc_id").alias("dst_scc"))
    return (
        edges.select("src", "dst")
        .join(src_map, on="src")
        .join(dst_map, on="dst")
        .where(F.col("src_scc") != F.col("dst_scc"))
        .select("src_scc", "dst_scc")
        .distinct()
    )


# shared witness plumbing: transitive closure by recursive CTE,
# mutual-reachability join, min-id per class.  No unroll caps: the
# recursion depth is the directed diameter and the closure is
# O(reachable pairs) — fine at oracle scale (sf0.01).
_SCC_CTES = """
dverts AS MATERIALIZED (
    -- explicit outer DISTINCT: under WITH RECURSIVE, DuckDB's
    -- MATERIALIZED CTEs lose a bare UNION's dedup (observed 4.x)
    SELECT DISTINCT id FROM (
        SELECT src AS id FROM de UNION ALL SELECT dst FROM de)),
tc(a, b) AS (
    SELECT src, dst FROM de WHERE src <> dst
    UNION
    SELECT t.a, e.dst FROM tc t JOIN de e ON e.src = t.b),
mutual AS MATERIALIZED (
    SELECT DISTINCT t1.a, t1.b
    FROM tc t1 JOIN tc t2 ON t1.a = t2.b AND t1.b = t2.a),
comp AS MATERIALIZED (
    SELECT v.id,
           LEAST(v.id, COALESCE(MIN(m.b), v.id)) AS scc_id
    FROM dverts v LEFT JOIN mutual m ON m.a = v.id
    GROUP BY v.id)
""".strip()


def scc_oracle_sql(dir_edges_cte: str) -> str:
    """Full value witness — algorithm-independent (see ``_SCC_CTES``).
    ``dir_edges_cte`` must define ``de(src, dst)``."""
    return f"""
WITH RECURSIVE {dir_edges_cte.strip()},
{_SCC_CTES}
SELECT id, scc_id FROM comp
"""


def condensation_oracle_sql(dir_edges_cte: str) -> str:
    """DuckDB witness: the SCC witness CTEs + two joins + distinct."""
    return f"""
WITH RECURSIVE {dir_edges_cte.strip()},
{_SCC_CTES}
SELECT DISTINCT cs.scc_id AS src_scc, cd.scc_id AS dst_scc
FROM de e
JOIN comp cs ON cs.id = e.src
JOIN comp cd ON cd.id = e.dst
WHERE cs.scc_id <> cd.scc_id
"""


def condensation_pagerank_oracle_sql(
    dir_edges_cte: str, iters: int, damping: float = 0.85
) -> str:
    """DuckDB witness for PageRank over the WEIGHTED condensation DAG
    (w = count of original cross-component edges): the SCC witness
    CTEs, the contracted weighted edge table, then the exact unrolled
    weighted-PageRank chain (same arithmetic placement as the engine:
    contributions rank·w/out_strength, dangling mass uniform, every
    float op mirrored, micro-rounded).  Vertex set = endpoints of the
    condensation edges (the engine's pagerank derives vertices from
    the edge table)."""
    ctes = [
        dir_edges_cte.strip(),
        _SCC_CTES,
        """cedges AS MATERIALIZED (
    SELECT cs.scc_id AS src, cd.scc_id AS dst,
           CAST(COUNT(*) AS DOUBLE) AS w
    FROM de e
    JOIN comp cs ON cs.id = e.src
    JOIN comp cd ON cd.id = e.dst
    WHERE cs.scc_id <> cd.scc_id
    GROUP BY cs.scc_id, cd.scc_id)""",
        """cverts AS MATERIALIZED (
    SELECT DISTINCT id FROM (
        SELECT src AS id FROM cedges UNION ALL SELECT dst FROM cedges))""",
        """cdeg AS MATERIALIZED (
    SELECT v.id, COALESCE(o.s, 0.0) AS out_deg
    FROM cverts v LEFT JOIN (
        SELECT src, SUM(w) AS s FROM cedges GROUP BY src) o
    ON v.id = o.src)""",
        "cn AS (SELECT COUNT(*) AS cnt FROM cverts)",
        "cr0 AS (SELECT d.id, 1.0/(SELECT cnt FROM cn) AS rank, d.out_deg"
        " FROM cdeg d)",
    ]
    for k in range(1, iters + 1):
        p = f"cr{k - 1}"
        ctes.append(
            f"""cr{k} AS MATERIALIZED (
    SELECT d.id,
           (1.0 - {damping})/(SELECT cnt FROM cn)
           + {damping} * (
               COALESCE(c.contrib, 0.0)
               + (SELECT COALESCE(SUM(rank), 0.0) FROM {p}
                  WHERE out_deg = 0) / (SELECT cnt FROM cn)
           ) AS rank,
           d.out_deg
    FROM cdeg d LEFT JOIN (
        SELECT e.dst, SUM(r.rank * e.w / r.out_deg) AS contrib
        FROM cedges e JOIN {p} r ON e.src = r.id
        GROUP BY e.dst) c
    ON d.id = c.dst)"""
        )
    return (
        "WITH RECURSIVE "
        + ",\n".join(ctes)
        + f"""
SELECT id AS scc_id, CAST(ROUND(rank * 1e6) AS BIGINT) AS rank_micro
FROM cr{iters}
"""
    )
