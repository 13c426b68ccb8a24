"""Butterfly (K2,2) counting on a bipartite incidence table.

The butterfly — two left vertices sharing two right vertices — is the
bipartite analog of the triangle: the smallest cohesion motif on
user-item / order-part / host-resource graphs, and the base quantity
for bipartite clustering coefficients and (k, 2)-bitruss peeling.

    bfly(a)  =  Σ_b  C(codeg(a, b), 2)        per left vertex
    total    =  Σ_{a<b}  C(codeg(a, b), 2)

where codeg(a, b) = |N(a) ∩ N(b)| over shared right neighbors.

Spark shape: one wedge self-join on the RIGHT vertex (the same
pair-generation as co-citation, `graph/cocitation.py`), partial-
aggregated pair counts, then an integer C(cnt, 2) fold — all JVM-side.
Right-side hubs blow the wedge join up quadratically, so right
vertices above ``max_right_deg`` are dropped pre-join (the max_df
cut); the count is then exact on the capped graph, identically in
both engines.

Reference analog: the same adjacency-intersection kernel as triangle
counting (/root/reference/apps/trianglecount.cpp:150-170) applied to
a bipartite incidence list; GMiner's degree-ordered orientation trick
corresponds to the right-hub cap here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def butterfly_counts(
    incid: DataFrame, max_right_deg: int = 1024
) -> DataFrame:
    """(id, bfly) per LEFT vertex with bfly > 0.

    ``incid`` has columns ``(left, right)``; duplicates are ignored.
    """
    pairs = _codeg_pairs(incid, max_right_deg)
    half = pairs.select(
        "a", "b", (F.col("cnt") * (F.col("cnt") - 1) / 2).cast("long").alias("bf")
    ).where(F.col("bf") > 0)
    per_a = half.groupBy(F.col("a").alias("id")).agg(F.sum("bf").alias("bfly"))
    per_b = half.groupBy(F.col("b").alias("id")).agg(F.sum("bf").alias("bfly"))
    return (
        per_a.unionByName(per_b)
        .groupBy("id")
        .agg(F.sum("bfly").cast("long").alias("bfly"))
    )


def butterfly_total(incid: DataFrame, max_right_deg: int = 1024) -> DataFrame:
    """One row (n_butterflies) — the global K2,2 count."""
    pairs = _codeg_pairs(incid, max_right_deg)
    return pairs.agg(
        F.coalesce(
            F.sum((F.col("cnt") * (F.col("cnt") - 1) / 2).cast("long")), F.lit(0)
        ).alias("n_butterflies")
    )


def _codeg_pairs(incid: DataFrame, max_right_deg: int) -> DataFrame:
    dd = incid.select(
        F.col("left").alias("member"), F.col("right").alias("center")
    ).distinct()
    deg = dd.groupBy("center").agg(F.count("*").alias("cdeg"))
    kept = dd.join(
        deg.where(F.col("cdeg") <= max_right_deg).select("center"),
        on="center",
        how="left_semi",
    )
    l = kept.select("center", F.col("member").alias("a"))
    r = kept.select("center", F.col("member").alias("b"))
    return (
        l.join(r, on="center")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("cnt"))
    )


def _edge_support(kept: DataFrame) -> DataFrame:
    """(member, center, sup): per-edge butterfly support over the
    current edge set — sup(u, r) = Σ_{b ∈ N(r)∖{u}} (codeg(u, b) − 1).
    One wedge self-join on the center (shared with _codeg_pairs) and
    a pair-count join back onto the wedge rows; all JVM-side."""
    l = kept.select("center", F.col("member").alias("a"))
    r = kept.select("center", F.col("member").alias("b"))
    wedges = l.join(r, on="center").where(F.col("a") < F.col("b"))
    pairs = wedges.groupBy("a", "b").agg(F.count("*").alias("cnt"))
    wp = wedges.join(pairs, on=["a", "b"]).where(F.col("cnt") >= 2)
    contrib = wp.select(
        F.col("a").alias("member"), "center", (F.col("cnt") - 1).alias("c")
    ).unionAll(
        wp.select(
            F.col("b").alias("member"), "center", (F.col("cnt") - 1).alias("c")
        )
    )
    return contrib.groupBy("member", "center").agg(
        F.sum("c").cast("long").alias("sup")
    )


def bitruss(
    incid: DataFrame,
    k: int,
    max_right_deg: int = 1024,
    max_iter: int = 50,
) -> DataFrame:
    """(lid, rid, sup) — the k-bitruss of the (right-hub-capped)
    bipartite graph: the maximal sub-edge-set where every edge is in
    ≥ k butterflies, with each surviving edge's final support.

    The bipartite analog of k-truss peeling, riding the SAME capped
    wedge join as :func:`butterfly_counts` (r4 verdict stretch #10):
    each :func:`superstep.peel` round recomputes per-edge support on
    the survivors and drops edges below k, to fixpoint.  Dropping an
    edge only ever lowers other edges' support, so the peel is monotone
    and the fixpoint unique — and idempotent past convergence, so a run
    capped at ``max_iter`` ≥ the observed round count equals the
    ``max_iter``-times-unrolled DuckDB oracle.

    Scale posture: per round one wedge self-join (center-capped, the
    quantity that squares), one pair count, one sum — no per-k rework
    and no butterfly ENUMERATION (supports aggregate wedge counts;
    #butterflies never materializes).
    """
    from gminer_spark.graph import tables
    from gminer_spark.graph.superstep import peel

    dd = incid.select(
        F.col("left").alias("member"), F.col("right").alias("center")
    ).distinct()
    deg = dd.groupBy("center").agg(F.count("*").alias("cdeg"))
    cur = tables.plan_barrier(
        dd.join(
            deg.where(F.col("cdeg") <= max_right_deg).select("center"),
            on="center",
            how="left_semi",
        ),
        eager=False,
    )

    def step(cur: DataFrame, n: int) -> DataFrame:
        return (
            cur.join(_edge_support(cur), on=["member", "center"], how="left")
            .where(F.coalesce("sup", F.lit(0)) >= k)
            .select("member", "center")
        )

    cur, _, converged = peel(cur, cur.count(), step, max_iter)
    if not converged:
        import warnings

        warnings.warn(
            f"bitruss: peel hit max_iter={max_iter} before fixpoint — "
            "result is a superset of the k-bitruss; raise max_iter",
            stacklevel=2,
        )
    return _edge_support(cur).join(cur, on=["member", "center"], how="right").select(
        F.col("member").alias("lid"),
        F.col("center").alias("rid"),
        F.coalesce("sup", F.lit(0)).cast("long").alias("sup"),
    )


def bitruss_oracle_sql(
    incid_cte: str, k: int, iters: int, max_right_deg: int = 1024
) -> str:
    """Unrolled peel rounds; ``iters`` ≥ the measured fixpoint round
    count (idempotent past it).  ``incid_cte`` defines
    ``incid("left", "right")``."""
    ctes = [
        incid_cte.strip(),
        f"""e0 AS MATERIALIZED (
    SELECT i.member, i.center FROM
      (SELECT DISTINCT "left" AS member, "right" AS center FROM incid) i
    JOIN (SELECT "right" AS center FROM
            (SELECT DISTINCT "left", "right" FROM incid)
          GROUP BY 1 HAVING COUNT(*) <= {max_right_deg}) c
    ON i.center = c.center)""",
    ]
    for r in range(iters):
        ctes.append(
            f"""w{r} AS MATERIALIZED (
    SELECT l.member AS a, rr.member AS b, l.center
    FROM e{r} l JOIN e{r} rr
      ON l.center = rr.center AND l.member < rr.member),
p{r} AS MATERIALIZED (
    SELECT a, b, COUNT(*) AS cnt FROM w{r} GROUP BY a, b),
s{r} AS MATERIALIZED (
    SELECT member, center, SUM(c) AS sup FROM (
        SELECT w.a AS member, w.center, p.cnt - 1 AS c
        FROM w{r} w JOIN p{r} p ON p.a = w.a AND p.b = w.b AND p.cnt >= 2
        UNION ALL
        SELECT w.b, w.center, p.cnt - 1
        FROM w{r} w JOIN p{r} p ON p.a = w.a AND p.b = w.b AND p.cnt >= 2)
    GROUP BY member, center),
e{r + 1} AS MATERIALIZED (
    SELECT e.member, e.center FROM e{r} e
    LEFT JOIN s{r} s ON s.member = e.member AND s.center = e.center
    WHERE COALESCE(s.sup, 0) >= {k})"""
        )
    n = iters
    chain = ",\n".join(ctes)
    return f"""
WITH {chain},
wf AS MATERIALIZED (
    SELECT l.member AS a, rr.member AS b, l.center
    FROM e{n} l JOIN e{n} rr
      ON l.center = rr.center AND l.member < rr.member),
pf AS MATERIALIZED (SELECT a, b, COUNT(*) AS cnt FROM wf GROUP BY a, b),
sf AS MATERIALIZED (
    SELECT member, center, SUM(c) AS sup FROM (
        SELECT w.a AS member, w.center, p.cnt - 1 AS c
        FROM wf w JOIN pf p ON p.a = w.a AND p.b = w.b AND p.cnt >= 2
        UNION ALL
        SELECT w.b, w.center, p.cnt - 1
        FROM wf w JOIN pf p ON p.a = w.a AND p.b = w.b AND p.cnt >= 2)
    GROUP BY member, center)
SELECT e.member AS lid, e.center AS rid,
       CAST(COALESCE(s.sup, 0) AS BIGINT) AS sup
FROM e{n} e
LEFT JOIN sf s ON s.member = e.member AND s.center = e.center"""


def butterfly_oracle_sql(incid_cte: str, max_right_deg: int = 1024) -> str:
    """Per-left-vertex butterfly counts.  ``incid_cte`` must define
    ``incid(left, right)`` (the CTE may quote the column names if they
    collide with keywords)."""
    return f"""
WITH {incid_cte.strip()},
dd AS MATERIALIZED (
    SELECT DISTINCT "left" AS member, "right" AS center FROM incid),
kept AS MATERIALIZED (
    SELECT i.center, i.member FROM dd i
    JOIN (SELECT center FROM dd GROUP BY center
          HAVING COUNT(*) <= {max_right_deg}) c
    ON i.center = c.center),
pairs AS MATERIALIZED (
    SELECT l.member AS a, r.member AS b, COUNT(*) AS cnt
    FROM kept l JOIN kept r ON l.center = r.center AND l.member < r.member
    GROUP BY l.member, r.member),
half AS MATERIALIZED (
    SELECT a, b, CAST(cnt * (cnt - 1) / 2 AS BIGINT) AS bf
    FROM pairs WHERE cnt >= 2)
SELECT id, CAST(SUM(bf) AS BIGINT) AS bfly FROM (
    SELECT a AS id, bf FROM half
    UNION ALL SELECT b AS id, bf FROM half)
GROUP BY id"""
