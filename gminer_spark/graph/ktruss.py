"""k-truss by triangle-support peeling.

Companion to k-core (graph/kcore.py): where k-core peels on vertex
degree, k-truss peels on edge *support* — the number of triangles an
edge participates in — keeping edges with support >= k-2 at fixpoint.
It composes two reference primitives: the TC app's oriented triangle
enumeration (/root/reference/apps/trianglecount.cpp:84-159, reused
from graph/triangles.py so hub fan-out stays arboricity-bounded) and
the degree-threshold seed filtering the reference applies per task
(:139-140), iterated to convergence (SURVEY.md §2.10 analog set).

Spark shape per round (a :func:`superstep.peel` round, two actions):
one oriented triangle enumeration over the surviving edges (the TC
plan; its CSR checkpoint is the first action), one explode of each
triangle into its three canonical edges, one count-per-edge aggregate,
one survivor filter, then the surviving-edge count that materializes
the round.
Peeling is idempotent past the fixpoint, so a run capped at N >=
convergence rounds equals the N-times-unrolled SQL oracle exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gminer_spark.graph import tables
from gminer_spark.graph.superstep import peel
from gminer_spark.graph.triangles import _wedge_closed


def _canonical(edges: DataFrame) -> DataFrame:
    return (
        edges.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def k_truss(edges: DataFrame, k: int, max_iter: int = 30) -> DataFrame:
    """(src, dst) canonical (src < dst) edges of the k-truss."""
    if k < 3:
        raise ValueError("k-truss is defined for k >= 3")

    def step(cur: DataFrame, n: int) -> DataFrame:
        closed = _wedge_closed(cur, orient="degree")
        pairs = (
            closed.select(F.col("u").alias("a"), F.col("v").alias("b"))
            .unionAll(closed.select(F.col("u").alias("a"), F.col("w").alias("b")))
            .unionAll(closed.select(F.col("v").alias("a"), F.col("w").alias("b")))
            .select(
                F.least("a", "b").alias("src"), F.greatest("a", "b").alias("dst")
            )
        )
        support = pairs.groupBy("src", "dst").agg(F.count("*").alias("sup"))
        return (
            cur.join(support, on=["src", "dst"], how="left")
            .where(F.coalesce(F.col("sup"), F.lit(0)) >= k - 2)
            .select("src", "dst")
        )

    cur, n = tables.counted_checkpoint(_canonical(edges))
    return peel(cur, n, step, max_iter)[0]


def ktruss_oracle_sql(edges_cte: str, k: int, iters: int) -> str:
    """Unrolled support-peeling as a MATERIALIZED CTE chain: t0 = the
    canonical edges; t{i} keeps edges of t{i-1} whose endpoints share
    >= k-2 neighbors within t{i-1}'s undirected closure."""
    ctes = [
        edges_cte.strip(),
        "t0 AS MATERIALIZED (SELECT src, dst FROM edges)",
    ]
    for i in range(1, iters + 1):
        p = f"t{i - 1}"
        ctes.append(
            f"""s{i - 1} AS MATERIALIZED (
    SELECT src, dst FROM {p} UNION SELECT dst AS src, src AS dst FROM {p})"""
        )
        ctes.append(
            f"""t{i} AS MATERIALIZED (
    SELECT e.src, e.dst
    FROM {p} e
    JOIN s{i - 1} n1 ON n1.src = e.src
    JOIN s{i - 1} n2 ON n2.src = e.dst AND n2.dst = n1.dst
    GROUP BY e.src, e.dst
    HAVING COUNT(*) >= {k - 2})"""
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT src, dst FROM t{iters}"


def truss_community(
    edges: DataFrame, k: int, max_iter: int = 30
) -> DataFrame:
    """Community SEARCH (vs detection): the maximal connected k-truss
    component containing the minimum surviving vertex id — the
    deterministic stand-in for "the community around this query
    vertex" (Huang et al., SIGMOD'14 truss community model: k-truss
    edges + connectivity = the cohesive neighborhood answer).

    Composes two value-green engines — :func:`k_truss` peeling and
    hash-min CC over the surviving edges — then keeps the edges whose
    component contains the seed (min surviving id: a pure function of
    the edge table, mirrored in the oracle).  Returns the community's
    canonical (src, dst) edges.
    """
    from pyspark.sql import functions as F

    from gminer_spark.graph.cc import connected_components

    truss = k_truss(edges, k, max_iter=max_iter).localCheckpoint()
    labels = connected_components(truss).state
    seed_comp = (
        labels.join(
            truss.agg(F.min("src").alias("id")), on="id"
        ).select(F.col("component").alias("_c"))
    )
    members = labels.join(
        F.broadcast(seed_comp), labels.component == F.col("_c")
    ).select("id")
    return (
        truss.join(members.withColumnRenamed("id", "src"), on="src")
        .join(members.withColumnRenamed("id", "dst"), on="dst")
        .select("src", "dst")
    )


def truss_community_oracle_sql(
    edges_cte: str, k: int, iters: int
) -> str:
    """Splice of the unrolled k-truss chain + a recursive CC over the
    surviving edges + min-seed membership filter."""
    base = ktruss_oracle_sql(edges_cte, k, iters)
    body, sep, tail = base.rpartition("\nSELECT src, dst FROM ")
    assert sep, "unexpected ktruss oracle shape"
    final = tail.strip()
    ctes = body[len("WITH ") :]
    return f"""
WITH RECURSIVE {ctes},
tc_sym AS (
    SELECT src, dst FROM {final}
    UNION SELECT dst AS src, src AS dst FROM {final}),
tc_verts AS (SELECT DISTINCT src AS id FROM tc_sym),
tc_reach(id, label) AS (
    SELECT id, id FROM tc_verts
    UNION
    SELECT s.dst, r.label FROM tc_reach r JOIN tc_sym s ON s.src = r.id
),
tc_lab AS (
    SELECT id, MIN(label) AS component FROM tc_reach GROUP BY id),
tc_seed AS (
    SELECT component AS c FROM tc_lab
    WHERE id = (SELECT MIN(src) FROM {final})),
tc_members AS (
    SELECT id FROM tc_lab WHERE component = (SELECT c FROM tc_seed))
SELECT t.src, t.dst
FROM {final} t
JOIN tc_members a ON a.id = t.src
JOIN tc_members b ON b.id = t.dst"""
