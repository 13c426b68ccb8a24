"""Link-prediction features and local clustering coefficients.

Training-data ops for graph ML: per-edge neighborhood-overlap scores
(common neighbors, Jaccard, resource-allocation — Zhou, Lü & Zhang,
Eur. Phys. J. B 71, 2009) and the per-vertex local clustering
coefficient.  Resource allocation (Σ 1/deg(w) over common neighbors)
is used instead of Adamic-Adar because it avoids a transcendental —
ratios of integers survive micro-rounding bit-identically across
engines, while `ln` may differ in the last ulp between libm and the
JVM.

Plan shape: both features reduce to the TC triangle list — the common
neighbors of edge (u, v) are the w with triangle (u, v, w), which the
triangle counter's oriented CSR intersection enumerates — followed by
an aggregation over w.  Degree-ordered orientation (graph.triangles)
is the skew fix when the candidate set is the edge table itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gminer_spark.graph import tables


def link_features(edges: DataFrame) -> DataFrame:
    """(src, dst, cn, jaccard_micro, ra_micro) for every canonical
    edge: common-neighbor count, Jaccard overlap of neighborhoods,
    resource-allocation index — micro-rounded ints.

    Common neighbors of edge (u, v) are exactly the triangles through
    that edge, so the enumeration rides the degree-ORIENTED CSR
    intersection (graph.triangles._wedge_closed): per-vertex fan-out is
    bounded ~√|E| instead of the hub-degree² blow-up a naive
    neighbors-of-u ⋈ neighbors-of-v join pays.  Each oriented triangle
    (u,v,w) then credits all three of its edges — cn += 1 and
    ra += 1/deg(third vertex) — one union + one aggregate.
    """
    from gminer_spark.graph.triangles import _wedge_closed

    spark = edges.sparkSession
    n_shuffle = tables.shuffle_partitions(spark)
    sym = tables.symmetrize(edges).repartition(n_shuffle, "src").persist()
    deg = sym.groupBy(F.col("src").alias("id")).agg(
        F.count("*").cast("long").alias("deg")
    ).persist()
    e = (
        edges.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    # materialize the triangle list once — it is projected three times
    closed = _wedge_closed(e, "degree").localCheckpoint()
    tri_pairs = (
        closed.select(F.col("u").alias("a"), F.col("v").alias("b"), F.col("w").alias("other"))
        .unionAll(closed.select(F.col("u").alias("a"), F.col("w").alias("b"), F.col("v").alias("other")))
        .unionAll(closed.select(F.col("v").alias("a"), F.col("w").alias("b"), F.col("u").alias("other")))
        .select(
            F.least("a", "b").alias("src"),
            F.greatest("a", "b").alias("dst"),
            "other",
        )
    )
    common = (
        tri_pairs.join(
            deg.withColumnRenamed("id", "other").withColumnRenamed("deg", "deg_o"),
            on="other",
        )
        .groupBy("src", "dst")
        .agg(
            F.count("*").cast("long").alias("cn"),
            F.sum(F.lit(1.0) / F.col("deg_o")).alias("ra"),
        )
    )
    du = deg.select(F.col("id").alias("src"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("id").alias("dst"), F.col("deg").alias("deg_v"))
    out = (
        e.join(common, on=["src", "dst"], how="left")
        .join(du, on="src")
        .join(dv, on="dst")
        .select(
            "src",
            "dst",
            F.coalesce("cn", F.lit(0)).alias("cn"),
            F.round(
                F.coalesce("cn", F.lit(0))
                / (F.col("deg_u") + F.col("deg_v") - F.coalesce("cn", F.lit(0)))
                * 1e6,
                0,
            )
            .cast("long")
            .alias("jaccard_micro"),
            F.round(F.coalesce("ra", F.lit(0.0)) * 1e6, 0)
            .cast("long")
            .alias("ra_micro"),
        )
    )
    return out


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """(id, lcc_micro) — local clustering coefficient
    2·T(v) / (deg(v)·(deg(v)−1)), zero for degree < 2."""
    from gminer_spark.graph.triangles import triangles_per_vertex

    spark = edges.sparkSession
    sym = tables.symmetrize(edges)
    deg = sym.groupBy(F.col("src").alias("id")).agg(
        F.count("*").cast("long").alias("deg")
    )
    tri = triangles_per_vertex(edges)
    return (
        deg.join(tri, on="id", how="left")
        .select(
            "id",
            F.when(
                F.col("deg") >= 2,
                F.round(
                    F.lit(2.0)
                    * F.coalesce("triangles", F.lit(0))
                    / (F.col("deg") * (F.col("deg") - 1))
                    * 1e6,
                    0,
                ),
            )
            .otherwise(F.lit(0.0))
            .cast("long")
            .alias("lcc_micro"),
        )
    )


def linkpred_auc(
    edges: DataFrame, test_mod: int = 5, salt: str = "lpsplit"
) -> DataFrame:
    """One-row exact AUC of the common-neighbor link predictor under a
    deterministic hold-out split -> (n_pos, n_neg, pos_score_sum,
    neg_score_sum, auc_micro).

    Protocol (the standard hard-negative link-prediction eval):
    canonical edges are split by ``h32(salt:src:dst) % test_mod == 0``
    into test positives vs the training graph; every pair is scored by
    its common-neighbor count IN THE TRAINING GRAPH; negatives are the
    distance-2 training pairs that are not edges of the FULL graph
    (hard negatives -- CN >= 1 by construction; held-out positives may
    score 0).  AUC is the Mann-Whitney statistic with midrank tie
    handling.

    Exactness: instead of global ranks (a full sort at scale), both
    score distributions collapse to per-score-value histograms --
    distinct CN values are bounded by the max common-neighbor count,
    so the histogram is tiny and the rank-sum becomes

        2*U = sum_s  p_s * (2 * n_{<s} + n_s)

    an exact BIGINT (products bounded by |pos|*|neg| -- fits BIGINT to
    ~3e9 pairs per side); ONE final division produces ``auc_micro``
    (CLAUDE.md single-division rule), with DOUBLE-cast operands (the
    cooccur.py overflow advice).  ``auc_micro`` is 500000 (0.5) by
    convention when either side is empty.

    Plan shape: the distance-2 pair enumeration is one self-join of
    the training adjacency on the center vertex -- the TC wedge
    shuffle; use a degree-sampled subgraph (or a center-degree cap)
    on hub-heavy graphs, exactly like cocitation.  The histogram
    window is over the bounded distinct-score table, not the data.
    Reference analog: the CD app's candidate scoring + global
    aggregate (apps/community.cpp) -- score-and-reduce over an
    enumerated candidate set.
    """
    from pyspark.sql import Window

    from gminer_spark.functions import h32

    spark = edges.sparkSession
    n_shuffle = tables.shuffle_partitions(spark)
    e = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    is_test = (
        h32(F.concat_ws(":", F.lit(salt), F.col("a"), F.col("b"))) % test_mod
        == 0
    )
    test = e.where(is_test)
    train = e.where(~is_test)
    sym = (
        tables.symmetrize(train.select(F.col("a").alias("src"), F.col("b").alias("dst")))
        .repartition(n_shuffle, "src")
        .persist()
    )
    pairs = (
        sym.select(F.col("src").alias("c"), F.col("dst").alias("a"))
        .join(sym.select(F.col("src").alias("c"), F.col("dst").alias("b")), on="c")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("cn"))
    ).persist()
    pos = test.join(pairs, on=["a", "b"], how="left").select(
        F.coalesce("cn", F.lit(0)).cast("long").alias("score")
    )
    neg = pairs.join(e, on=["a", "b"], how="left_anti").select(
        F.col("cn").alias("score")
    )
    hist = (
        pos.groupBy("score")
        .agg(F.count("*").cast("long").alias("p"))
        .join(
            neg.groupBy("score").agg(F.count("*").cast("long").alias("n")),
            on="score",
            how="full",
        )
        .select(
            "score",
            F.coalesce("p", F.lit(0)).cast("long").alias("p"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
        )
    )
    # window over the BOUNDED distinct-score histogram (not the data)
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.select(
        "score", "p", "n", F.coalesce(F.sum("n").over(w), F.lit(0)).alias("n_lt")
    )
    agg = cum.agg(
        F.sum("p").cast("long").alias("n_pos"),
        F.sum("n").cast("long").alias("n_neg"),
        F.sum(F.col("p") * (2 * F.col("n_lt") + F.col("n"))).cast("long").alias("u2"),
        F.sum(F.col("p") * F.col("score")).cast("long").alias("pos_score_sum"),
        F.sum(F.col("n") * F.col("score")).cast("long").alias("neg_score_sum"),
    )
    out = agg.select(
        "n_pos",
        "n_neg",
        "pos_score_sum",
        "neg_score_sum",
        F.when(
            (F.coalesce("n_pos", F.lit(0)) == 0)
            | (F.coalesce("n_neg", F.lit(0)) == 0),
            F.lit(500_000).cast("long"),
        )
        .otherwise(
            F.round(
                F.col("u2").cast("double")
                / (
                    F.lit(2.0)
                    * F.col("n_pos").cast("double")
                    * F.col("n_neg").cast("double")
                )
                * 1e6,
                0,
            ).cast("long")
        )
        .alias("auc_micro"),
    )
    return out


def linkpred_auc_oracle_sql(
    edges_cte: str, test_mod: int = 5, salt: str = "lpsplit"
) -> str:
    """DuckDB witness over a CTE ``edges(src, dst)`` — same split,
    wedge CN, histogram rank-sum, and single micro division."""
    from gminer_spark.functions import h32_sql

    split = h32_sql(
        f"'{salt}:' || CAST(a AS VARCHAR) || ':' || CAST(b AS VARCHAR)"
    )
    return f"""
WITH {edges_cte.strip()},
ce AS MATERIALIZED (
    SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
    FROM edges WHERE src <> dst),
split AS MATERIALIZED (
    SELECT a, b, ({split} % {test_mod} = 0) AS is_test FROM ce),
tsym AS MATERIALIZED (
    SELECT a AS src, b AS dst FROM split WHERE NOT is_test
    UNION ALL
    SELECT b AS src, a AS dst FROM split WHERE NOT is_test),
prs AS MATERIALIZED (
    SELECT x.dst AS a, y.dst AS b, CAST(COUNT(*) AS BIGINT) AS cn
    FROM tsym x JOIN tsym y ON x.src = y.src AND x.dst < y.dst
    GROUP BY x.dst, y.dst),
pos AS (
    SELECT CAST(COALESCE(p.cn, 0) AS BIGINT) AS score
    FROM split s LEFT JOIN prs p ON s.a = p.a AND s.b = p.b
    WHERE s.is_test),
neg AS (
    SELECT p.cn AS score FROM prs p
    WHERE NOT EXISTS (SELECT 1 FROM ce e WHERE e.a = p.a AND e.b = p.b)),
hist AS (
    SELECT COALESCE(ph.score, nh.score) AS score,
           COALESCE(ph.p, 0) AS p, COALESCE(nh.n, 0) AS n
    FROM (SELECT score, CAST(COUNT(*) AS BIGINT) AS p FROM pos GROUP BY score) ph
    FULL JOIN (SELECT score, CAST(COUNT(*) AS BIGINT) AS n FROM neg GROUP BY score) nh
    ON ph.score = nh.score),
cum AS (
    SELECT score, p, n,
           COALESCE(SUM(n) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_lt
    FROM hist),
agg AS (
    SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
           CAST(SUM(n) AS BIGINT) AS n_neg,
           CAST(SUM(p * (2 * n_lt + n)) AS BIGINT) AS u2,
           CAST(SUM(p * score) AS BIGINT) AS pos_score_sum,
           CAST(SUM(n * score) AS BIGINT) AS neg_score_sum
    FROM cum)
SELECT n_pos, n_neg, pos_score_sum, neg_score_sum,
       CAST(CASE WHEN COALESCE(n_pos, 0) = 0 OR COALESCE(n_neg, 0) = 0
            THEN 500000
            ELSE ROUND(CAST(u2 AS DOUBLE)
                 / (CAST(2 AS DOUBLE) * CAST(n_pos AS DOUBLE)
                    * CAST(n_neg AS DOUBLE)) * 1e6)
            END AS BIGINT) AS auc_micro
FROM agg
"""
