"""Global web-structure statistics over the directed edge table:
reciprocity and degree assortativity.

Both are single-pass aggregate queries — the cheap "shape of the web"
numbers run on every crawl snapshot before the iterative algorithms.
Reference analog: GMiner's global scalar aggregators (master-side
reduction in `system/aggregator.hpp`); here each is one or two
shuffles ending in a 1-row result.

Cross-engine exactness discipline: every statistic is assembled from
EXACT integer sums (counts, degree sums, degree products) and only the
final ratio is computed in IEEE double, rounded to 1e-6 — the same
micro-int contract as PageRank.  The assortativity combination
(n·Σxy − Σx·Σy, …) runs in DECIMAL(38,0) so it stays exact even when
BIGINT products would overflow at web scale (Σx ~ 1e15 on a trillion
edges squares to 1e30).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gminer_spark.graph import tables


def reciprocity(edges: DataFrame) -> DataFrame:
    """1-row ``(n_edges, n_reciprocal, reciprocity_micro)`` — the
    fraction of distinct directed edges (src≠dst) whose reverse edge
    also exists.  High reciprocity separates social-ish link exchanges
    from the strongly asymmetric authority links of the open web.

    One distinct, one self-join on the reversed key (shuffle keyed by
    (src,dst) both times), both counts fused into a single global
    aggregate — the whole statistic is one lazy plan / one action.
    """
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    rev = e.select(
        F.col("dst").alias("src"),
        F.col("src").alias("dst"),
        F.lit(1).alias("has_rev"),
    )
    return (
        e.join(rev, on=["src", "dst"], how="left")
        .agg(
            F.count("*").alias("n_edges"),
            F.count("has_rev").alias("n_reciprocal"),
        )
        .select(
            "n_edges",
            "n_reciprocal",
            F.round(F.col("n_reciprocal") / F.col("n_edges") * 1e6, 0)
            .cast("long")
            .alias("reciprocity_micro"),
        )
    )


def reciprocity_oracle_sql(edges_cte: str) -> str:
    """DuckDB witness over any CTE ``edges(src, dst)``."""
    return f"""
WITH {edges_cte.strip()},
e AS MATERIALIZED (
    SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e),
r AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_reciprocal
      FROM e a WHERE EXISTS (
          SELECT 1 FROM e b WHERE b.src = a.dst AND b.dst = a.src))
SELECT n.n_edges, r.n_reciprocal,
       CAST(ROUND(CAST(r.n_reciprocal AS DOUBLE) / n.n_edges * 1e6)
            AS BIGINT) AS reciprocity_micro
FROM n, r
"""


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """1-row ``(n_edges, assortativity_micro)`` — Pearson correlation,
    over distinct directed edges (src≠dst), of the source's
    out-degree with the target's in-degree (the standard directed
    out-in assortativity; the web is famously disassortative).

    Plan: one reference chain over the input, so its map stage runs
    once (AQE reuses no exchange above a cached input): the edges are
    deduplicated inside a src partitioning that also serves the
    out-degree window, one dst regroup serves the in-degree window, and
    the five moment sums reduce in one pass.  Sums are exact BIGINTs,
    the Pearson combination runs in DECIMAL(38,0), only the final
    division is double.
    """
    from pyspark.sql import Window

    n = tables.shuffle_partitions(edges.sparkSession)
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .repartition(n, "src")
        .distinct()
        .withColumn("x", F.count("*").over(Window.partitionBy("src")))
        .repartition(n, "dst")
    )
    xy = e.withColumn("y", F.count("*").over(Window.partitionBy("dst")))
    s = xy.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    d = F.col  # noqa: E741 - brevity below
    dec = "decimal(38,0)"
    num = d("n").cast(dec) * d("sxy").cast(dec) - d("sx").cast(dec) * d(
        "sy"
    ).cast(dec)
    vx = d("n").cast(dec) * d("sxx").cast(dec) - d("sx").cast(dec) * d(
        "sx"
    ).cast(dec)
    vy = d("n").cast(dec) * d("syy").cast(dec) - d("sy").cast(dec) * d(
        "sy"
    ).cast(dec)
    return s.select(
        d("n").alias("n_edges"),
        F.round(
            num.cast("double")
            / F.sqrt(vx.cast("double") * vy.cast("double"))
            * 1e6,
            0,
        )
        .cast("long")
        .alias("assortativity_micro"),
    )


def degree_assortativity_oracle_sql(edges_cte: str) -> str:
    """DuckDB witness: identical integer moments (HUGEINT combination
    is exact), identical final double division."""
    return f"""
WITH {edges_cte.strip()},
e AS MATERIALIZED (
    SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
outd AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS x FROM e GROUP BY src),
ind  AS (SELECT dst, CAST(COUNT(*) AS BIGINT) AS y FROM e GROUP BY dst),
m AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o.x) AS BIGINT) AS sx, CAST(SUM(i.y) AS BIGINT) AS sy,
           CAST(SUM(o.x * i.y) AS BIGINT) AS sxy,
           CAST(SUM(o.x * o.x) AS BIGINT) AS sxx,
           CAST(SUM(i.y * i.y) AS BIGINT) AS syy
    FROM e JOIN outd o ON e.src = o.src JOIN ind i ON e.dst = i.dst)
SELECT n AS n_edges,
       CAST(ROUND(
           CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
                AS DOUBLE)
           / SQRT(CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
                       AS DOUBLE)
                  * CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy
                         AS DOUBLE))
           * 1e6) AS BIGINT) AS assortativity_micro
FROM m
"""


def avg_neighbor_degree(edges: DataFrame) -> DataFrame:
    """(deg, n_vertices, knn_micro) — the k_nn(k) degree-correlation
    PROFILE over the undirected view: for each degree class k, the
    mean over degree-k vertices of their mean neighbor degree
    (micro-rounded).  The standard curve behind the assortativity
    scalar (:func:`degree_assortativity`): rising = assortative core,
    falling = hub-periphery (the typical web shape).

    One degree table, one self-join on the symmetric edges, two
    aggregations — all map-side combinable; the profile has at most
    max-degree rows, so the final groupBy is tiny.

    Exactness: within a degree class every vertex has the SAME degree
    k, so the class mean of per-vertex means collapses to
    Σ(per-vertex neighbor-degree SUMS) / (k · n) — exact integers and
    ONE final division.  A naive avg-of-avgs accumulates doubles in
    partition order and flipped a micro-rounding ulp between engines
    (observed once in 125 rows at sf0.01).
    """
    sym = tables.symmetrize(edges)
    deg = sym.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("deg"))
    nbr = (
        sym.join(deg.withColumnRenamed("id", "dst").withColumnRenamed("deg", "nbr_deg"), on="dst")
        .groupBy("src")
        .agg(F.sum("nbr_deg").alias("sum_nbr_deg"))
    )
    per_vertex = deg.join(nbr, deg.id == nbr.src).select("deg", "sum_nbr_deg")
    return (
        per_vertex.groupBy("deg")
        .agg(
            F.count("*").alias("n_vertices"),
            F.round(
                F.sum("sum_nbr_deg").cast("double")
                / (F.col("deg") * F.count("*"))
                * 1e6,
                0,
            )
            .cast("long")
            .alias("knn_micro"),
        )
    )


def avg_neighbor_degree_oracle_sql(edges_cte: str) -> str:
    """DuckDB mirror — exact-integer sums with ONE final double
    division per degree class (see the engine docstring)."""
    return f"""
WITH {edges_cte.strip()},
sym AS MATERIALIZED (
    SELECT src, dst FROM edges
    UNION SELECT dst AS src, src AS dst FROM edges),
deg AS MATERIALIZED (
    SELECT src AS id, COUNT(*) AS deg FROM sym GROUP BY src),
nbr AS MATERIALIZED (
    SELECT e.src, SUM(d.deg) AS sum_nbr_deg
    FROM sym e JOIN deg d ON d.id = e.dst
    GROUP BY e.src)
SELECT d.deg, CAST(COUNT(*) AS BIGINT) AS n_vertices,
       CAST(ROUND(CAST(SUM(n.sum_nbr_deg) AS DOUBLE)
                  / (d.deg * COUNT(*)) * 1e6) AS BIGINT) AS knn_micro
FROM deg d JOIN nbr n ON n.src = d.id
GROUP BY d.deg"""


def rich_club(edges: DataFrame) -> DataFrame:
    """(k, n_nodes, n_edges, phi_micro) — the rich-club curve: for
    every degree threshold k (one row per distinct degree), the
    subgraph induced by vertices with degree > k has ``n_nodes``
    vertices, ``n_edges`` edges, and density
    phi(k) = 2·E / (N·(N-1)) (micro-rounded; rows where N < 2 are
    dropped — phi undefined).  Rising phi(k) = an elite densely-linked
    core, the classic web/citation-graph diagnostic.

    Single pass, NO per-threshold join: an edge survives threshold k
    iff min(deg(u), deg(v)) > k, so the per-k edge count is a SUFFIX
    SUM of the edge histogram keyed by min-endpoint degree, and the
    per-k node count a suffix sum of the degree histogram — two tiny
    histograms + one window each, O(max_degree) rows total.
    """
    sym = tables.symmetrize(edges)
    deg = sym.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("deg"))
    # degree histogram + suffix node counts
    from pyspark.sql import Window

    dh = deg.groupBy("deg").agg(F.count("*").alias("n"))
    w = Window.orderBy(F.desc("deg")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # n_nodes(k) = # vertices with deg > k — shift the inclusive
    # suffix sum by excluding the current degree class
    nodes = dh.select(
        "deg",
        (F.sum("n").over(w) - F.col("n")).alias("n_above"),
        F.sum("n").over(w).alias("n_at_or_above"),
    )
    # canonical edges keyed by min endpoint degree
    canon = sym.where(F.col("src") < F.col("dst"))
    da = deg.withColumnRenamed("id", "src").withColumnRenamed("deg", "deg_a")
    db = deg.withColumnRenamed("id", "dst").withColumnRenamed("deg", "deg_b")
    eh = (
        canon.join(da, on="src")
        .join(db, on="dst")
        .select(F.least("deg_a", "deg_b").alias("mdeg"))
        .groupBy("mdeg")
        .agg(F.count("*").alias("m"))
    )
    # suffix-sum the edge histogram over the FULL degree key set: a
    # degree value with no edge at exactly that min-degree still has
    # a nonzero count of edges ABOVE it — joining eh after the window
    # would silently zero those thresholds
    we = Window.orderBy(F.desc("k")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    edges_above = (
        dh.select(F.col("deg").alias("k"))
        .join(eh.withColumnRenamed("mdeg", "k"), on="k", how="left")
        .select("k", F.coalesce("m", F.lit(0)).alias("m"))
        .select("k", (F.sum("m").over(we) - F.col("m")).alias("e_above"))
    )
    # evaluate phi at each distinct degree value k: nodes with deg > k,
    # edges with mdeg > k
    out = (
        nodes.select(F.col("deg").alias("k"), F.col("n_above").alias("n_nodes"))
        .join(edges_above, on="k", how="left")
        .select(
            "k",
            "n_nodes",
            F.coalesce("e_above", F.lit(0)).alias("n_edges"),
            F.round(
                F.lit(2.0)
                * F.coalesce("e_above", F.lit(0))
                / (F.col("n_nodes") * (F.col("n_nodes") - 1))
                * 1e6,
                0,
            )
            .cast("long")
            .alias("phi_micro"),
        )
        .where(F.col("n_nodes") >= 2)
    )
    return out


def rich_club_oracle_sql(edges_cte: str) -> str:
    """Suffix sums via window functions, mirrored arithmetic."""
    return f"""
WITH {edges_cte.strip()},
sym AS MATERIALIZED (
    SELECT src, dst FROM edges
    UNION SELECT dst AS src, src AS dst FROM edges),
deg AS MATERIALIZED (
    SELECT src AS id, COUNT(*) AS deg FROM sym GROUP BY src),
dh AS MATERIALIZED (SELECT deg, COUNT(*) AS n FROM deg GROUP BY deg),
nodes AS MATERIALIZED (
    SELECT deg,
           SUM(n) OVER (ORDER BY deg DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - n AS n_above
    FROM dh),
eh AS MATERIALIZED (
    SELECT LEAST(da.deg, db.deg) AS mdeg, COUNT(*) AS m
    FROM sym e JOIN deg da ON da.id = e.src JOIN deg db ON db.id = e.dst
    WHERE e.src < e.dst
    GROUP BY LEAST(da.deg, db.deg)),
ea AS MATERIALIZED (
    SELECT k,
           SUM(m) OVER (ORDER BY k DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - m AS e_above
    FROM (SELECT d.deg AS k, COALESCE(e.m, 0) AS m
          FROM dh d LEFT JOIN eh e ON e.mdeg = d.deg))
SELECT n.deg AS k, CAST(n.n_above AS BIGINT) AS n_nodes,
       CAST(COALESCE(a.e_above, 0) AS BIGINT) AS n_edges,
       CAST(ROUND(CAST(2 AS DOUBLE) * COALESCE(a.e_above, 0)
                  / (n.n_above * (n.n_above - 1)) * 1e6) AS BIGINT)
           AS phi_micro
FROM nodes n LEFT JOIN ea a ON a.k = n.deg
WHERE n.n_above >= 2"""


def egonet_density(edges: DataFrame) -> DataFrame:
    """(id, deg, triangles, ego_edges, ego_density_micro) — per-vertex
    egonet edge density, the OddBall near-clique/star profile
    (Akoglu, McGlohon & Faloutsos, PAKDD'10): a vertex whose egonet
    has ~n_ego² edges is a near-clique (spam farm / link exchange);
    ~n_ego edges is a star (directory hub).

    The egonet of v (v plus its neighbors) has n_ego = deg(v)+1
    vertices and ego_edges = deg(v) + triangles(v) edges — the spokes
    plus one neighbor-neighbor edge per triangle through v — so the
    whole profile rides the already-oriented triangle enumeration
    (:func:`gminer_spark.graph.triangles.triangles_per_vertex`); no
    new quadratic quantity is introduced.  Density is exact-integer
    2·ego_edges·1e6 over n_ego·(n_ego−1) with ONE final double
    division (micro-int contract).
    """
    from gminer_spark.graph.triangles import triangles_per_vertex

    sym = tables.symmetrize(edges)
    deg = sym.groupBy(F.col("src").alias("id")).agg(
        F.count("*").cast("long").alias("deg")
    )
    tri = triangles_per_vertex(edges)
    prof = deg.join(tri, on="id", how="left").select(
        "id",
        "deg",
        F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
    )
    n_ego = F.col("deg") + F.lit(1)
    ego_edges = F.col("deg") + F.col("triangles")
    return prof.select(
        "id",
        "deg",
        "triangles",
        ego_edges.alias("ego_edges"),
        F.round(
            (ego_edges * F.lit(2_000_000)).cast("double")
            / (n_ego * (n_ego - 1)),
            0,
        )
        .cast("long")
        .alias("ego_density_micro"),
    )


def egonet_density_oracle_sql(edges_cte: str) -> str:
    """DuckDB mirror of :func:`egonet_density` — triangle corners via
    the canonical oriented join, identical integer assembly."""
    return f"""
WITH {edges_cte.strip()},
sym AS MATERIALIZED (
    SELECT src, dst FROM edges
    UNION SELECT dst AS src, src AS dst FROM edges),
deg AS MATERIALIZED (
    SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY src),
tri AS MATERIALIZED (
    SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
    FROM edges e1
    JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
    JOIN edges e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
corners AS MATERIALIZED (
    SELECT u AS id FROM tri
    UNION ALL SELECT v FROM tri
    UNION ALL SELECT w FROM tri),
tcount AS MATERIALIZED (
    SELECT id, CAST(COUNT(*) AS BIGINT) AS triangles
    FROM corners GROUP BY id)
SELECT d.id, d.deg,
       COALESCE(t.triangles, 0) AS triangles,
       d.deg + COALESCE(t.triangles, 0) AS ego_edges,
       CAST(ROUND(CAST((d.deg + COALESCE(t.triangles, 0)) * 2000000
                       AS DOUBLE)
                  / ((d.deg + 1) * d.deg)) AS BIGINT)
           AS ego_density_micro
FROM deg d LEFT JOIN tcount t ON t.id = d.id"""


def _edge_support(edges: DataFrame) -> DataFrame:
    """(src, dst, support, deg_src, deg_dst) per canonical (src < dst)
    undirected edge: its triangle count and both endpoint degrees.

    One reference chain over the input: the degree-oriented edges are
    checkpointed once, so the input scan and the symmetric shuffle run
    once.  Each oriented edge already carries both endpoint degrees,
    and its CSR gives the closed wedges — no degree table, no degree
    join.
    """
    from gminer_spark.graph.triangles import _closed, _oriented_csr, oriented_edges

    oriented = oriented_edges(edges, orient="degree").localCheckpoint()
    closed = _closed(_oriented_csr(oriented)[1])
    pairs = (
        closed.select(F.col("u").alias("a"), F.col("v").alias("b"))
        .unionAll(closed.select(F.col("u").alias("a"), F.col("w").alias("b")))
        .unionAll(closed.select(F.col("v").alias("a"), F.col("w").alias("b")))
        .select(
            F.least("a", "b").alias("src"),
            F.greatest("a", "b").alias("dst"),
        )
    )
    support = pairs.groupBy("src", "dst").agg(
        F.count("*").cast("long").alias("support")
    )
    fwd = F.col("src") < F.col("dst")
    canon = oriented.select(
        F.least("src", "dst").alias("src"),
        F.greatest("src", "dst").alias("dst"),
        F.when(fwd, F.col("src_deg")).otherwise(F.col("dst_deg")).alias("deg_src"),
        F.when(fwd, F.col("dst_deg")).otherwise(F.col("src_deg")).alias("deg_dst"),
    )
    return canon.join(support, on=["src", "dst"], how="left").select(
        "src",
        "dst",
        F.coalesce("support", F.lit(0)).cast("long").alias("support"),
        "deg_src",
        "deg_dst",
    )


def edge_embeddedness(edges: DataFrame) -> DataFrame:
    """(src, dst, support, deg_src, deg_dst, embeddedness_micro) per
    canonical (src < dst) undirected edge — neighborhood-overlap
    Jaccard: |N(u)∩N(v)| / |N(u)∪N(v)\\{u,v}| (Granovetter weak-tie /
    Onnela et al. edge-strength signal: embeddedness 0 marks bridges,
    the edges whose removal fragments communities).

    support rides the same degree-oriented triangle enumeration as k-truss
    (per-edge triangle count); the union size is assembled from exact
    integers (deg_u + deg_v − 2 − support) with ONE final micro
    division, 0 when the union is empty (a two-leaf bridge).
    """
    denom = (
        F.col("deg_src") + F.col("deg_dst") - 2 - F.col("support")
    )
    return _edge_support(edges).select(
        "src",
        "dst",
        "support",
        "deg_src",
        "deg_dst",
        F.when(denom <= 0, F.lit(0))
        .otherwise(
            F.round(
                F.col("support").cast("double")
                / denom.cast("double")
                * F.lit(1e6),
                0,
            ).cast("long")
        )
        .cast("long")
        .alias("embeddedness_micro"),
    )


def edge_embeddedness_oracle_sql(edges_cte: str) -> str:
    """DuckDB mirror — canonical triangle join for per-edge support,
    identical integer assembly, zero-denominator CASE guard (the
    Spark-4 ANSI DIVIDE_BY_ZERO pitfall mirrored)."""
    return f"""
WITH {edges_cte.strip()},
canon AS MATERIALIZED (
    SELECT LEAST(src, dst) AS src, GREATEST(src, dst) AS dst
    FROM edges WHERE src <> dst
    GROUP BY 1, 2),
sym AS MATERIALIZED (
    SELECT src, dst FROM canon
    UNION SELECT dst AS src, src AS dst FROM canon),
deg AS MATERIALIZED (
    SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY src),
tri AS MATERIALIZED (
    SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
    FROM canon e1
    JOIN canon e2 ON e1.src = e2.src AND e1.dst < e2.dst
    JOIN canon e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
sup AS MATERIALIZED (
    SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS support FROM (
        SELECT a AS src, b AS dst FROM tri
        UNION ALL SELECT a, c FROM tri
        UNION ALL SELECT b, c FROM tri)
    GROUP BY src, dst)
SELECT c.src, c.dst,
       COALESCE(s.support, 0) AS support,
       du.deg AS deg_src, dv.deg AS deg_dst,
       CASE WHEN du.deg + dv.deg - 2 - COALESCE(s.support, 0) <= 0
            THEN 0
            ELSE CAST(ROUND(CAST(COALESCE(s.support, 0) AS DOUBLE)
                 / CAST(du.deg + dv.deg - 2 - COALESCE(s.support, 0)
                        AS DOUBLE) * 1e6) AS BIGINT)
       END AS embeddedness_micro
FROM canon c
LEFT JOIN sup s ON s.src = c.src AND s.dst = c.dst
JOIN deg du ON du.id = c.src
JOIN deg dv ON dv.id = c.dst"""


def forman_curvature(edges: DataFrame) -> DataFrame:
    """(src, dst, support, deg_src, deg_dst, curvature) per canonical
    undirected edge — the augmented Forman–Ricci curvature for
    triangle-closed graphs (Samal et al., Sci. Rep. 2018):

        F#(u,v) = 4 − deg(u) − deg(v) + 3·t(u,v)

    with t the edge's triangle count.  Strongly negative edges are
    geometric BOTTLENECKS (high-degree endpoints, no common
    neighborhood — inter-community bridges, the complement signal to
    :func:`edge_embeddedness`'s ratio); positive edges sit inside
    dense cliques.  Pure BIGINT arithmetic over the same degree +
    triangle tables as embeddedness — no division, no rounding, the
    strongest oracle class.
    """
    return _edge_support(edges).select(
        "src",
        "dst",
        "support",
        "deg_src",
        "deg_dst",
        (
            F.lit(4)
            - F.col("deg_src")
            - F.col("deg_dst")
            + 3 * F.col("support")
        )
        .cast("long")
        .alias("curvature"),
    )


def forman_curvature_oracle_sql(edges_cte: str) -> str:
    """DuckDB mirror — identical integer formula, canonical triangle
    join for support."""
    return f"""
WITH {edges_cte.strip()},
canon AS MATERIALIZED (
    SELECT LEAST(src, dst) AS src, GREATEST(src, dst) AS dst
    FROM edges WHERE src <> dst
    GROUP BY 1, 2),
sym AS MATERIALIZED (
    SELECT src, dst FROM canon
    UNION SELECT dst AS src, src AS dst FROM canon),
deg AS MATERIALIZED (
    SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY src),
tri AS MATERIALIZED (
    SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
    FROM canon e1
    JOIN canon e2 ON e1.src = e2.src AND e1.dst < e2.dst
    JOIN canon e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
sup AS MATERIALIZED (
    SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS support FROM (
        SELECT a AS src, b AS dst FROM tri
        UNION ALL SELECT a, c FROM tri
        UNION ALL SELECT b, c FROM tri)
    GROUP BY src, dst)
SELECT c.src, c.dst,
       COALESCE(s.support, 0) AS support,
       du.deg AS deg_src, dv.deg AS deg_dst,
       CAST(4 - du.deg - dv.deg + 3 * COALESCE(s.support, 0) AS BIGINT)
           AS curvature
FROM canon c
LEFT JOIN sup s ON s.src = c.src AND s.dst = c.dst
JOIN deg du ON du.id = c.src
JOIN deg dv ON dv.id = c.dst"""
