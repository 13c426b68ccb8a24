"""Sampled-source betweenness centrality (Brandes accumulation).

Exact Brandes restricted to a source sample — the standard estimator
at web scale (full betweenness is O(|V|·|E|)).  All sampled sources
run SIMULTANEOUSLY: BFS state is keyed ``(s, v)``, so each level is
one shuffle regardless of |S|, and executors see |S|× rows rather
than |S|× rounds — the same batched-task trick the mining kernels use
(many seeds per `applyInPandas` batch).

Forward pass: level-synchronous BFS counting shortest paths
(``sigma``, exact integers; the per-level groupBy sum is the
min-combiner shape).  Backward pass: dependency accumulation
``delta(v) = Σ_{w ∈ succ(v)} sigma(v)/sigma(w) · (1 + delta(w))``
level by level.  Per-vertex result is ``Σ_s delta_s(v)`` over v ≠ s —
raw Brandes dependencies for the sample (undirected double-counting
retained, as in Brandes when iterating a source subset).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gminer_spark.graph import tables
from gminer_spark.graph.superstep import grow


def _bfs_levels(
    edges: DataFrame, sources: DataFrame, max_depth: int
) -> tuple[DataFrame, list[DataFrame]]:
    """Level-synchronous multi-source BFS over the undirected view of
    ``edges`` -> ``(sym, levels)``: levels[d] = (s, v, sigma) rows at
    distance d from source s, sigma = exact shortest-path counts, one
    :func:`superstep.grow` round (one shuffle) per level regardless of
    |sources|.  ``sym`` is the symmetric edge table, hash-partitioned on
    ``src`` and persisted; the caller unpersists it."""
    sym = (
        tables.symmetrize(edges)
        .repartition(tables.shuffle_partitions(edges.sparkSession), "src")
        .persist()
    )
    # restrict to sources that exist in the graph: an id absent from
    # the edge table must not emit a level-0 (s, s) row (it would show
    # up as a spurious ecc=0 vertex in eccentricity_sampled).  This
    # checkpoint is the first job to read ``sym`` and fills its cache.
    src_set = (
        sources.select(F.col("id").cast("long").alias("s"))
        .distinct()
        .join(
            sym.select(F.col("src").alias("s")).distinct(),
            on="s",
            how="left_semi",
        )
    )
    init = src_set.select(
        "s", F.col("s").alias("v"), F.lit(1).cast("long").alias("sigma")
    ).localCheckpoint()

    def step(level: DataFrame) -> DataFrame:
        return (
            level.join(sym, level.v == sym.src)
            .select("s", F.col("dst").alias("v"), "sigma")
            .groupBy("s", "v")
            .agg(F.sum("sigma").alias("sigma"))
        )

    return sym, grow(init, step, ["s", "v"], max_depth)[0]


def betweenness_sampled(
    edges: DataFrame, sources: DataFrame, max_depth: int = 20
) -> DataFrame:
    """(id, bc) — Brandes dependency sums from the ``sources(id)``
    sample over the undirected view."""
    sym, levels = _bfs_levels(edges, sources, max_depth)

    # Backward accumulation: deepest level has delta = 0.  Levels are
    # materialized PAIRWISE (the coreness k=2 idiom): every other
    # level's checkpoint is lazy, so the next (eager) level's job
    # computes and checkpoints both — half the backward jobs.  Within
    # that job the lazy delta has ONE consumer (the succ join), so the
    # all-lazy race (concurrent final-job stages duplicating shared
    # un-materialized level subtrees — A/B'd in r6 at ~15% SLOWER) does
    # not arise; the acc union reads the already-checkpointed blocks.
    delta = levels[-1].select("s", "v", F.lit(0.0).alias("delta"))
    acc = delta  # per-(s, v) dependency; sources dropped at the end
    for i, d in enumerate(range(len(levels) - 2, -1, -1)):
        succ = delta  # (s, w, delta) at level d+1, with sigma via join
        w_sig = levels[d + 1].select(
            "s", F.col("v").alias("w"), F.col("sigma").alias("sigma_w")
        )
        succ = succ.select("s", F.col("v").alias("w"), "delta").join(
            w_sig, on=["s", "w"]
        )
        contrib = (
            levels[d]
            .join(sym, levels[d].v == sym.src)
            .select("s", "v", "sigma", F.col("dst").alias("w"))
            .join(succ, on=["s", "w"])
            .select(
                "s",
                "v",
                (
                    F.col("sigma")
                    / F.col("sigma_w")
                    * (F.lit(1.0) + F.col("delta"))
                ).alias("part"),
            )
            .groupBy("s", "v")
            .agg(F.sum("part").alias("contrib"))
        )
        delta = (
            levels[d]
            .select("s", "v")
            .join(contrib, on=["s", "v"], how="left")
            .select("s", "v", F.coalesce("contrib", F.lit(0.0)).alias("delta"))
            .localCheckpoint(eager=(i % 2 == 1) or d == 0)
        )
        acc = acc.unionByName(delta)
    result = (
        acc.where(F.col("s") != F.col("v"))
        .groupBy(F.col("v").alias("id"))
        .agg(F.sum("delta").alias("bc"))
    )
    sym.unpersist()
    return result


def harmonic_sampled(
    edges: DataFrame, sources: DataFrame, max_depth: int = 20
) -> DataFrame:
    """(id, harmonic) — sampled harmonic centrality: Σ_s 1/dist(s, v)
    over the source sample (s ≠ v; unreachable pairs contribute 0).
    Shares the multi-source BFS with :func:`betweenness_sampled`."""
    spark = edges.sparkSession
    sym, levels = _bfs_levels(edges, sources, max_depth)
    parts = [
        lvl.select("s", "v", F.lit(1.0 / d).alias("inv"))
        for d, lvl in enumerate(levels)
        if d > 0
    ]
    sym.unpersist()
    if not parts:
        return spark.createDataFrame([], "id long, harmonic double")
    allp = functools.reduce(DataFrame.unionByName, parts)
    return allp.groupBy(F.col("v").alias("id")).agg(
        F.sum("inv").alias("harmonic")
    )


def eccentricity_sampled(
    edges: DataFrame, sources: DataFrame, max_depth: int = 20
) -> DataFrame:
    """(id, ecc) — per sampled source, the max BFS distance reached
    (eccentricity within its component).  Shares :func:`_bfs_levels`;
    the max over all sampled eccentricities lower-bounds the graph
    diameter — the standard sampled diameter estimate."""
    sym, levels = _bfs_levels(edges, sources, max_depth)
    sym.unpersist()
    parts = [
        lvl.select(F.col("s").alias("id"), F.lit(d).cast("long").alias("d"))
        for d, lvl in enumerate(levels)
    ]
    allp = functools.reduce(DataFrame.unionByName, parts)
    return allp.groupBy("id").agg(F.max("d").alias("ecc"))


def distance_histogram(
    edges: DataFrame, sources: DataFrame, max_depth: int = 20
) -> DataFrame:
    """(d, n_pairs) — count of (source, vertex) pairs at BFS distance d
    over the source sample, d >= 1.  The sampled distance distribution
    whose quantiles give the EFFECTIVE DIAMETER estimate (smallest d
    covering >= 90% of reachable sampled pairs) — the standard
    small-world headline stat on a crawl graph.  Shares the one-
    shuffle-per-level multi-source BFS with betweenness/harmonic."""
    spark = edges.sparkSession
    sym, levels = _bfs_levels(edges, sources, max_depth)
    sym.unpersist()
    parts = [
        lvl.select(F.lit(d).cast("long").alias("d"))
        for d, lvl in enumerate(levels)
        if d > 0
    ]
    if not parts:
        return spark.createDataFrame([], "d long, n_pairs long")
    allp = functools.reduce(DataFrame.unionByName, parts)
    return allp.groupBy("d").agg(F.count("*").alias("n_pairs"))


def distance_histogram_oracle_sql(
    edges_cte: str, source_pred: str, depth: int
) -> str:
    """Per-level pair counts over the unrolled BFS level CTEs."""
    base = betweenness_oracle_sql(edges_cte, source_pred, depth)
    ctes = base[: base.index(",\nd" + str(depth) + " AS ")]
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({d} AS BIGINT) AS d FROM l{d}"
        for d in range(1, depth + 1)
    )
    return (
        ctes
        + f"""
SELECT d, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM ({union})
GROUP BY d"""
    )


def eccentricity_oracle_sql(edges_cte: str, source_pred: str, depth: int) -> str:
    """Max reached BFS level per source over the unrolled level CTEs."""
    base = betweenness_oracle_sql(edges_cte, source_pred, depth)
    ctes = base[: base.index(",\nd" + str(depth) + " AS ")]
    union = "\nUNION ALL\n".join(
        f"SELECT s, CAST({d} AS BIGINT) AS d FROM l{d}" for d in range(depth + 1)
    )
    return (
        ctes
        + f"""
SELECT s AS id, MAX(d) AS ecc
FROM ({union})
GROUP BY s"""
    )


def harmonic_oracle_sql(edges_cte: str, source_pred: str, depth: int) -> str:
    """Harmonic sums over the same unrolled BFS level CTEs."""
    base = betweenness_oracle_sql(edges_cte, source_pred, depth)
    # reuse only the forward CTEs: rebuild the tail selection
    ctes = base[: base.index(",\nd" + str(depth) + " AS ")]
    union = "\nUNION ALL\n".join(
        # CAST keeps DuckDB in double division (bare 1.0/{d} is DECIMAL)
        f"SELECT s, v, CAST(1 AS DOUBLE)/{d} AS inv FROM l{d}"
        for d in range(1, depth + 1)
    )
    return (
        ctes
        + f"""
SELECT v AS id, CAST(ROUND(SUM(inv) * 1e6) AS BIGINT) AS harmonic_micro
FROM ({union})
GROUP BY v"""
    )


def betweenness_oracle_sql(
    edges_cte: str, source_pred: str, depth: int
) -> str:
    """Unrolled forward-BFS + backward-accumulation CTE chain.

    ``depth`` must be >= the sample's eccentricity (deeper levels are
    empty and contribute nothing).  Output rounds to micro ints like
    the PageRank oracle (sigma is exact; delta is a double sum).
    """
    ctes = [
        f"{edges_cte.strip()}",
        """sym AS MATERIALIZED (
    SELECT src, dst FROM edges
    UNION SELECT dst AS src, src AS dst FROM edges)""",
        f"""l0 AS MATERIALIZED (
    SELECT id AS s, id AS v, CAST(1 AS BIGINT) AS sigma
    FROM (SELECT DISTINCT src AS id FROM sym) WHERE {source_pred})""",
        "vis0 AS MATERIALIZED (SELECT s, v FROM l0)",
    ]
    for d in range(1, depth + 1):
        p = d - 1
        ctes += [
            f"""l{d} AS MATERIALIZED (
    SELECT c.s, c.v, c.sigma FROM (
        SELECT l.s, e.dst AS v, SUM(l.sigma) AS sigma
        FROM l{p} l JOIN sym e ON l.v = e.src
        GROUP BY l.s, e.dst) c
    LEFT JOIN vis{p} x ON c.s = x.s AND c.v = x.v
    WHERE x.v IS NULL)""",
            f"""vis{d} AS MATERIALIZED (
    SELECT s, v FROM vis{p} UNION ALL SELECT s, v FROM l{d})""",
        ]
    ctes.append(f"d{depth} AS (SELECT s, v, 0.0 AS delta FROM l{depth})")
    for d in range(depth - 1, -1, -1):
        ctes.append(
            f"""d{d} AS MATERIALIZED (
    SELECT l.s, l.v, COALESCE(c.contrib, 0.0) AS delta
    FROM l{d} l LEFT JOIN (
        SELECT a.s, a.v, SUM(a.sigma / w.sigma * (1.0 + w.delta)) AS contrib
        FROM (SELECT l2.s, l2.v, l2.sigma, e.dst AS w
              FROM l{d} l2 JOIN sym e ON l2.v = e.src) a
        JOIN (SELECT n.s, n.v, n.sigma, dd.delta
              FROM l{d + 1} n JOIN d{d + 1} dd ON n.s = dd.s AND n.v = dd.v) w
          ON a.s = w.s AND a.w = w.v
        GROUP BY a.s, a.v) c
    ON l.s = c.s AND l.v = c.v)"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT s, v, delta FROM d{d}" for d in range(depth + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT v AS id, CAST(ROUND(SUM(delta) * 1e6) AS BIGINT) AS bc_micro
FROM ({union})
WHERE s <> v
GROUP BY v"""
    )


def edge_betweenness_sampled(
    edges: DataFrame, sources: DataFrame, max_depth: int = 20
) -> DataFrame:
    """(src, dst, eb_micro) — sampled-source EDGE betweenness (the
    Girvan-Newman score): for each BFS dag edge (v, w) the Brandes
    edge dependency sigma(v)/sigma(w) · (1 + delta(w)), summed over
    the source sample, canonical (src < dst), micro-rounded.

    Shares :func:`_bfs_levels` and the level-by-level backward pass
    with :func:`betweenness_sampled` — one extra per-level projection,
    no extra shuffle family.  The community-detection edge-removal
    score at web scale (run on a sample, cut the top edges).
    """
    spark = edges.sparkSession
    sym, levels = _bfs_levels(edges, sources, max_depth)

    delta = levels[-1].select("s", "v", F.lit(0.0).alias("delta"))
    edge_parts: list[DataFrame] = []
    for d in range(len(levels) - 2, -1, -1):
        w_sig = levels[d + 1].select(
            "s", F.col("v").alias("w"), F.col("sigma").alias("sigma_w")
        )
        succ = delta.select("s", F.col("v").alias("w"), "delta").join(
            w_sig, on=["s", "w"]
        )
        dag = (
            levels[d]
            .join(sym, levels[d].v == sym.src)
            .select("s", "v", "sigma", F.col("dst").alias("w"))
            .join(succ, on=["s", "w"])
            .select(
                "s",
                "v",
                "w",
                (
                    F.col("sigma")
                    / F.col("sigma_w")
                    * (F.lit(1.0) + F.col("delta"))
                ).alias("part"),
            )
            # LAZY leaf, materialized by this level's eager delta
            # checkpoint below (its only same-job consumer): one job
            # per level covers dag + delta, the edge_parts union later
            # reads the cached dag blocks — and everything runs BEFORE
            # sym.unpersist() (the documented N-references pitfall).
            # An all-lazy chain was A/B'd and rejected, see
            # betweenness_sampled's backward-pass note.
            .localCheckpoint(eager=False)
        )
        edge_parts.append(dag.select("v", "w", "part"))
        contrib = dag.groupBy("s", "v").agg(F.sum("part").alias("contrib"))
        delta = (
            levels[d]
            .select("s", "v")
            .join(contrib, on=["s", "v"], how="left")
            .select("s", "v", F.coalesce("contrib", F.lit(0.0)).alias("delta"))
            .localCheckpoint()
        )
    if not edge_parts:
        sym.unpersist()
        return spark.createDataFrame([], "src long, dst long, eb_micro long")
    allp = functools.reduce(DataFrame.unionByName, edge_parts)
    result = (
        allp.groupBy(
            F.least("v", "w").alias("src"), F.greatest("v", "w").alias("dst")
        )
        .agg(
            F.round(F.sum("part") * 1e6, 0).cast("long").alias("eb_micro")
        )
    )
    sym.unpersist()
    return result


def edge_betweenness_oracle_sql(
    edges_cte: str, source_pred: str, depth: int
) -> str:
    """Edge-dependency tail over the SAME forward+backward CTE chain
    as :func:`betweenness_oracle_sql` (the d{k} delta CTEs are reused
    verbatim; only the final aggregation differs)."""
    base = betweenness_oracle_sql(edges_cte, source_pred, depth)
    ctes = base[: base.rindex("\nSELECT v AS id,")]
    union = "\nUNION ALL\n".join(
        f"""SELECT l2.v AS x, w.v AS y,
       l2.sigma / w.sigma * (1.0 + w.delta) AS part
FROM l{d} l2 JOIN sym e ON l2.v = e.src
JOIN (SELECT n.s, n.v, n.sigma, dd.delta
      FROM l{d + 1} n JOIN d{d + 1} dd ON n.s = dd.s AND n.v = dd.v) w
  ON l2.s = w.s AND e.dst = w.v"""
        for d in range(depth)
    )
    return (
        ctes
        + f"""
SELECT LEAST(x, y) AS src, GREATEST(x, y) AS dst,
       CAST(ROUND(SUM(part) * 1e6) AS BIGINT) AS eb_micro
FROM ({union})
GROUP BY LEAST(x, y), GREATEST(x, y)"""
    )


def closeness_sampled(
    edges: DataFrame, sources: DataFrame, max_depth: int = 20
) -> DataFrame:
    """(id, n_reached, closeness_micro) — sampled closeness
    centrality: round(n_reached / Σ_s dist(s, v) · 1e6) over sampled
    sources reaching v (s ≠ v).  The distance sum is an exact integer
    (one final division — no float-accumulation drift), closing the
    'exact closeness' gap with the estimator actually used at scale.
    Shares the one-shuffle-per-level multi-source BFS."""
    spark = edges.sparkSession
    sym, levels = _bfs_levels(edges, sources, max_depth)
    sym.unpersist()
    parts = [
        lvl.select("v", F.lit(d).cast("long").alias("d"))
        for d, lvl in enumerate(levels)
        if d > 0
    ]
    if not parts:
        return spark.createDataFrame(
            [], "id long, n_reached long, closeness_micro long"
        )
    allp = functools.reduce(DataFrame.unionByName, parts)
    return allp.groupBy(F.col("v").alias("id")).agg(
        F.count("*").alias("n_reached"),
        F.round(F.count("*") / F.sum("d") * 1e6, 0)
        .cast("long")
        .alias("closeness_micro"),
    )


def closeness_oracle_sql(edges_cte: str, source_pred: str, depth: int) -> str:
    """Closeness over the same unrolled BFS level CTEs."""
    base = betweenness_oracle_sql(edges_cte, source_pred, depth)
    ctes = base[: base.index(",\nd" + str(depth) + " AS ")]
    union = "\nUNION ALL\n".join(
        f"SELECT v, CAST({d} AS BIGINT) AS d FROM l{d}"
        for d in range(1, depth + 1)
    )
    return (
        ctes
        + f"""
SELECT v AS id, CAST(COUNT(*) AS BIGINT) AS n_reached,
       CAST(ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(d) * 1e6) AS BIGINT)
           AS closeness_micro
FROM ({union})
GROUP BY v"""
    )
