"""Minimum spanning forest via Borůvka rounds — the classic
partition-parallel MSF (each component picks its lightest outgoing
edge; components contract along the picked edges; repeat — O(log n)
rounds).  The canonical Pregel-family benchmark alongside PageRank/
CC/SSSP, and the backbone of single-linkage clustering over a
weighted similarity graph.

Determinism contract: edge order is the TOTAL order (w, src, dst) on
canonical (src < dst) edges, so every component's minimum is unique
and the resulting forest is exactly the Kruskal forest under the same
tie-break (pytest replicates Kruskal with union-find).

Contraction: the picked edges form a pseudo-forest on component
labels (every component has one outgoing pointer; mutual pairs form
2-cycles).  Break each 2-cycle at the smaller label (it becomes the
root), then POINTER-DOUBLE (succ ← succ∘succ) to the root —
O(log chain) joins on the component table, never a driver-side
union-find.  Reference analog: the hash-min CC superstep loop
(SURVEY §2.10 CC) with min-label exchange swapped for min-edge
selection + contraction.

Scale shape per round: one comp-label join pair over the flat
persisted edge table, one struct-min groupBy (map-side partial — no
per-component window sort, so the giant late-round component cannot
become a single-partition straggler), pointer table joins bounded by
the component count, plan_barrier state throughout.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gminer_spark.graph import tables
from gminer_spark.graph.superstep import fixpoint


def minimum_spanning_forest(
    edges: DataFrame,
    weight_col: str = "w",
    max_rounds: int = 32,
    max_pointer_rounds: int = 20,
) -> DataFrame:
    """(src, dst, w, round) — the MSF edges of the undirected view of
    ``edges`` under the (w, src, dst) total order, tagged with the
    Borůvka round that picked them."""
    n_shuffle = tables.shuffle_partitions(edges.sparkSession)
    canon = (
        edges.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
            F.col(weight_col).cast("long").alias("w"),
        )
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))  # parallel edges: cheapest
        .repartition(n_shuffle, "src")
        .persist()
    )
    canon.count()
    comp = tables.plan_barrier(
        canon.select(F.col("src").alias("id"))
        .union(canon.select(F.col("dst").alias("id")))
        .distinct()
        .select("id", F.col("id").alias("c"))
    )
    forest_parts: list[DataFrame] = []
    done = False
    for rnd in range(max_rounds):
        lab = (
            canon.join(
                comp.select(F.col("id").alias("src"), F.col("c").alias("cu")),
                on="src",
            )
            .join(
                comp.select(F.col("id").alias("dst"), F.col("c").alias("cv")),
                on="dst",
            )
            .where(F.col("cu") != F.col("cv"))
        )
        cand = lab.select(
            F.col("cu").alias("comp"), "w", "src", "dst", "cu", "cv"
        ).unionByName(
            lab.select(
                F.col("cv").alias("comp"), "w", "src", "dst", "cu", "cv"
            )
        )
        sel = tables.plan_barrier(
            cand.groupBy("comp")
            .agg(
                F.min(
                    F.struct("w", "src", "dst", "cu", "cv")
                ).alias("k")
            )
            .select(
                "comp",
                F.col("k.w").alias("w"),
                F.col("k.src").alias("src"),
                F.col("k.dst").alias("dst"),
                F.col("k.cu").alias("cu"),
                F.col("k.cv").alias("cv"),
            ),
            eager=False,
        )
        if sel.count() == 0:
            done = True
            break
        forest_parts.append(
            sel.select("src", "dst", "w")
            .distinct()
            .select(
                "src", "dst", "w", F.lit(rnd).cast("long").alias("round")
            )
        )
        # pseudo-forest pointers: every component with a pick points
        # at the other side; the rest point at themselves
        p0 = sel.select(
            "comp",
            F.when(F.col("comp") == F.col("cu"), F.col("cv"))
            .otherwise(F.col("cu"))
            .alias("s"),
        )
        succ = tables.plan_barrier(
            comp.select(F.col("c").alias("comp"))
            .distinct()
            .join(p0, on="comp", how="left")
            .select("comp", F.coalesce("s", F.col("comp")).alias("s"))
        )
        # break each mutual 2-cycle at its smaller label (the root),
        # then pointer-double to the roots
        s_of_s = succ.select(
            F.col("comp").alias("s"), F.col("s").alias("ss")
        )
        broken = succ.join(s_of_s, on="s").select(
            "comp",
            F.when(
                (F.col("ss") == F.col("comp")) & (F.col("comp") < F.col("s")),
                F.col("comp"),
            )
            .otherwise(F.col("s"))
            .alias("s"),
        )
        doubled = fixpoint(
            broken, _double, F.col("moved"), max_iter=max_pointer_rounds
        )
        if not doubled.converged:
            warnings.warn(
                "minimum_spanning_forest: pointer doubling hit "
                f"max_pointer_rounds={max_pointer_rounds}",
                stacklevel=2,
            )
        succ = doubled.state.select("comp", "s")
        comp = tables.plan_barrier(
            comp.join(
                succ.select(F.col("comp").alias("c"), F.col("s")), on="c"
            ).select("id", F.col("s").alias("c"))
        )
    if not done:
        warnings.warn(
            f"minimum_spanning_forest: max_rounds={max_rounds} hit with "
            "cross-component edges remaining — forest is partial",
            stacklevel=2,
        )
    canon.unpersist()
    if not forest_parts:
        return edges.sparkSession.createDataFrame(
            [], "src long, dst long, w long, round long"
        )
    out = forest_parts[0]
    for p in forest_parts[1:]:
        out = out.unionByName(p)
    return out


def _double(succ: DataFrame, k: int) -> DataFrame:
    """One pointer-doubling step: succ <- succ o succ, flagging moves."""
    s_of_s = succ.select(F.col("comp").alias("s"), F.col("s").alias("s2"))
    return succ.join(s_of_s, on="s").select(
        "comp",
        F.col("s2").alias("s"),
        (F.col("s2") != F.col("s")).alias("moved"),
    )


def minimum_spanning_forest_oracle_sql(
    weighted_edges_cte: str, rounds: int, pointer_rounds: int = 6
) -> str:
    """Unrolled Borůvka rounds over ``wedges(src, dst, w)``:
    per round a min-edge pick (ROW_NUMBER over the (w, src, dst)
    total order — same unique minimum as the engine's struct-min), a
    2-cycle break, ``pointer_rounds`` doubling steps (idempotent past
    convergence), and the relabel.  ``rounds`` must cover the engine
    fixpoint (compare fails loudly if short)."""
    ctes = [
        weighted_edges_cte.strip(),
        """mcanon AS MATERIALIZED (
    SELECT LEAST(src, dst) AS src, GREATEST(src, dst) AS dst,
           MIN(w) AS w
    FROM wedges WHERE src <> dst GROUP BY 1, 2)""",
        """comp0 AS MATERIALIZED (
    SELECT id, id AS c FROM (
        SELECT src AS id FROM mcanon UNION SELECT dst FROM mcanon))""",
    ]
    sel_rows = []
    for r in range(rounds):
        ctes.append(
            f"""lab{r} AS MATERIALIZED (
    SELECT e.src, e.dst, e.w, cu.c AS cu, cv.c AS cv
    FROM mcanon e
    JOIN comp{r} cu ON cu.id = e.src
    JOIN comp{r} cv ON cv.id = e.dst
    WHERE cu.c <> cv.c)"""
        )
        ctes.append(
            f"""sel{r} AS MATERIALIZED (
    SELECT comp, w, src, dst, cu, cv FROM (
        SELECT comp, w, src, dst, cu, cv,
               ROW_NUMBER() OVER (PARTITION BY comp
                                  ORDER BY w, src, dst) AS rn
        FROM (SELECT cu AS comp, w, src, dst, cu, cv FROM lab{r}
              UNION ALL
              SELECT cv AS comp, w, src, dst, cu, cv FROM lab{r}))
    WHERE rn = 1)"""
        )
        sel_rows.append(
            f"SELECT DISTINCT src, dst, w, CAST({r} AS BIGINT) AS round "
            f"FROM sel{r}"
        )
        ctes.append(
            f"""p{r}_0 AS MATERIALIZED (
    SELECT a.c AS comp,
           COALESCE(CASE WHEN s.comp = s.cu THEN s.cv ELSE s.cu END,
                    a.c) AS s
    FROM (SELECT DISTINCT c FROM comp{r}) a
    LEFT JOIN sel{r} s ON s.comp = a.c)"""
        )
        ctes.append(
            f"""p{r}_1 AS MATERIALIZED (
    SELECT a.comp,
           CASE WHEN b.s = a.comp AND a.comp < a.s
                THEN a.comp ELSE a.s END AS s
    FROM p{r}_0 a JOIN p{r}_0 b ON b.comp = a.s)"""
        )
        for j in range(1, pointer_rounds + 1):
            ctes.append(
                f"""p{r}_{j + 1} AS MATERIALIZED (
    SELECT a.comp, b.s AS s
    FROM p{r}_{j} a JOIN p{r}_{j} b ON b.comp = a.s)"""
            )
        ctes.append(
            f"""comp{r + 1} AS MATERIALIZED (
    SELECT m.id, p.s AS c
    FROM comp{r} m JOIN p{r}_{pointer_rounds + 1} p ON p.comp = m.c)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\n"
        + "\nUNION ALL\n".join(sel_rows)
    )


def single_linkage(
    edges: DataFrame, weight_col: str = "w", threshold: int = 1
) -> DataFrame:
    """(id, cluster) single-linkage clusters at cut height
    ``threshold``: connected components of the MSF edges with
    w <= threshold (standard dendrogram property: identical to CC
    over ALL original edges with w <= threshold, which is exactly
    what the oracle computes — an independent derivation, not a
    mirror).  Vertices with no surviving edge are singleton clusters;
    cluster label = min vertex id (hash-min CC semantics).

    The point of routing through the forest: the MSF is computed ONCE
    and every cut height is then a filter + CC over |V|−1 edges —
    the scalable way to explore a clustering hierarchy over a
    similarity graph (dedup families, host clustering).
    """
    from gminer_spark.graph.cc import connected_components

    msf = minimum_spanning_forest(edges, weight_col=weight_col)
    cut = msf.where(F.col("w") <= threshold).select("src", "dst")
    verts = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .where(F.col("id").isNotNull())
        .distinct()
    )
    labels = connected_components(cut).state
    return verts.join(labels, on="id", how="left").select(
        "id", F.coalesce("component", F.col("id")).alias("cluster")
    )


def single_linkage_oracle_sql(weighted_edges_cte: str, threshold: int) -> str:
    """Recursive-CC oracle over the THRESHOLDED ORIGINAL edges —
    independent of the engine's MSF route (the dendrogram property is
    what is being checked)."""
    return f"""
WITH RECURSIVE {weighted_edges_cte.strip()},
slcut AS (
    SELECT src, dst FROM wedges WHERE src <> dst AND w <= {threshold}),
slsym AS (
    SELECT src, dst FROM slcut
    UNION SELECT dst AS src, src AS dst FROM slcut),
slverts AS (
    SELECT DISTINCT src AS id FROM wedges
    UNION SELECT DISTINCT dst FROM wedges),
reach(id, label) AS (
    SELECT id, id FROM slverts
    UNION
    SELECT s.dst, r.label FROM reach r JOIN slsym s ON s.src = r.id
)
SELECT id, MIN(label) AS cluster FROM reach GROUP BY id"""
