"""k=3 clique-percolation communities (Palla et al., Nature 2005):
two triangles belong to the same community iff they share an edge;
a vertex belongs to EVERY community one of its triangles is in — the
repo's only OVERLAPPING community model (LPA / Louvain / CC / FocusCO
all emit partitions; real affiliation structure overlaps).

Scalable formulation — never materialize the triangle-adjacency
pairs (hub edges would square): min-label propagation with the EDGE
as the relay:

    round: per edge, m(e)  = min label over triangles containing e;
           per triangle, L = min over its 3 edges' m(e)

two map-side-combinable groupBys per round, converging in
clique-graph-diameter rounds.  Labels are the triangles' canonical
'a|b|c' strings (min = lexicographic — cross-engine total order;
numeric packing would overflow at web-scale ids), so the fixpoint is
a pure function of the edge table.

Returns vertex MEMBERSHIPS (id, community) — one row per community a
vertex's triangles reach; vertices in no triangle appear in no row
(CPM communities are triangle-built by definition).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gminer_spark.graph.superstep import fixpoint


def cpm_communities(
    edges: DataFrame, max_rounds: int = 64
) -> DataFrame:
    """(id, community) overlapping k=3 CPM memberships over the
    undirected view of ``edges``."""
    from gminer_spark.graph.trussness import _triangles_canonical

    tri = _triangles_canonical(edges).persist()
    init = tri.select(
        "a", "b", "c", F.concat_ws("|", "a", "b", "c").alias("lab")
    )

    def step(state: DataFrame, k: int) -> DataFrame:
        tedges = state.select(
            "a", "b", "c", "lab",
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("s"), F.col("b").alias("d")),
                    F.struct(F.col("a").alias("s"), F.col("c").alias("d")),
                    F.struct(F.col("b").alias("s"), F.col("c").alias("d")),
                )
            ).alias("e"),
        ).select("a", "b", "c", "lab", F.col("e.s").alias("es"), F.col("e.d").alias("ed"))
        emin = tedges.groupBy("es", "ed").agg(F.min("lab").alias("m"))
        return (
            tedges.join(emin, on=["es", "ed"])
            .groupBy("a", "b", "c", "lab")
            .agg(F.min("m").alias("newlab"))
            .select(
                "a",
                "b",
                "c",
                F.least("lab", "newlab").alias("lab"),
                (F.col("newlab") < F.col("lab")).alias("changed"),
            )
        )

    result = fixpoint(init, step, F.col("changed"), max_iter=max_rounds)
    if not result.converged:
        warnings.warn(
            f"cpm_communities: max_rounds={max_rounds} hit before the "
            "label fixpoint — memberships may be split",
            stacklevel=2,
        )
    state = result.state
    tri.unpersist()
    tri.unpersist()
    members = (
        state.select(F.col("a").alias("id"), F.col("lab").alias("community"))
        .unionAll(
            state.select(F.col("b").alias("id"), F.col("lab").alias("community"))
        )
        .unionAll(
            state.select(F.col("c").alias("id"), F.col("lab").alias("community"))
        )
        .distinct()
    )
    return members


def cpm_oracle_sql(edges_cte: str, rounds: int) -> str:
    """Unrolled edge-relay min-label rounds over canonical triangles;
    ``rounds`` must cover the engine fixpoint (compare fails loudly
    if short)."""
    ctes = [
        edges_cte.strip(),
        """cpm_canon AS MATERIALIZED (
    SELECT LEAST(src, dst) AS src, GREATEST(src, dst) AS dst
    FROM edges WHERE src <> dst
    GROUP BY 1, 2)""",
        """t0 AS MATERIALIZED (
    SELECT e1.src AS a, e1.dst AS b, e2.dst AS c,
           CAST(e1.src AS VARCHAR) || '|' || CAST(e1.dst AS VARCHAR)
               || '|' || CAST(e2.dst AS VARCHAR) AS lab
    FROM cpm_canon e1
    JOIN cpm_canon e2 ON e1.src = e2.src AND e1.dst < e2.dst
    JOIN cpm_canon e3 ON e3.src = e1.dst AND e3.dst = e2.dst)""",
    ]
    for r in range(rounds):
        ctes.append(
            f"""te{r} AS MATERIALIZED (
    SELECT a, b, c, lab, a AS es, b AS ed FROM t{r}
    UNION ALL SELECT a, b, c, lab, a, c FROM t{r}
    UNION ALL SELECT a, b, c, lab, b, c FROM t{r})"""
        )
        ctes.append(
            f"""em{r} AS MATERIALIZED (
    SELECT es, ed, MIN(lab) AS m FROM te{r} GROUP BY es, ed)"""
        )
        ctes.append(
            f"""t{r + 1} AS MATERIALIZED (
    SELECT t.a, t.b, t.c,
           LEAST(t.lab, MIN(e.m)) AS lab
    FROM te{r} t JOIN em{r} e ON e.es = t.es AND e.ed = t.ed
    GROUP BY t.a, t.b, t.c, t.lab)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT DISTINCT id, community FROM (
    SELECT a AS id, lab AS community FROM t{rounds}
    UNION ALL SELECT b, lab FROM t{rounds}
    UNION ALL SELECT c, lab FROM t{rounds})"""
    )
