"""Weisfeiler-Lehman color refinement — structural vertex fingerprints.

The 1-WL iteration is the standard structural-feature extractor for
graph ML (WL subtree kernels, GIN-style embeddings) and a fast
isomorphism/symmetry probe:

    c_0(v)   = h32(degree(v))
    c_k(v)   = h32( c_{k-1}(v) || '|' || join(sort(multiset of
                    neighbor c_{k-1} values), ',') )

After k rounds, two vertices share a color iff their depth-k
unfolding trees agree — the per-vertex fingerprint a dedup or
role-mining pass joins on (e.g. finding structurally-equivalent
template pages in a crawl graph).

Cross-engine exactness: the multiset is serialized as a
comma-joined ASCII-sorted list of DECIMAL STRINGS, then md5-hashed —
Spark's ``array_sort(collect_list(...))`` and DuckDB's
``string_agg(... ORDER BY ...)`` produce the identical byte string
(sorting is ON THE STRING VALUES in both engines, so the engines
cannot disagree on numeric-vs-lex order), and ``h32`` is the repo's
shared md5 idiom.

Spark shape per round: one equi-join of the color table onto the
symmetric edges, one groupBy(v) with collect_list + array_sort (the
per-vertex multiset is degree-bounded), one projection — the same
scan posture as an LPA round.  The rounds run through
:func:`superstep.fixpoint` (one action per round; its origin-free
barrier matters because the state is referenced twice per round —
Spark-4 origin-chain pitfall).  The ``changed`` test is
``color != old``: a refinement rehashes every color, so WL runs every
round it is asked for.

Reference analog: the reference's Voronoi/BDG partitioning spreads
labels by hash-min (partition/BPartitioner.tpp:91-165); WL is the
same neighbor-label exchange with multiset-hash instead of min.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gminer_spark.functions import h32
from gminer_spark.graph import superstep, tables


def wl_colors(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """(id, color) — the 1-WL color after ``rounds`` refinements
    (color is the h32 BIGINT fingerprint)."""
    spark = edges.sparkSession
    sym = (
        tables.symmetrize(edges)
        .repartition(tables.shuffle_partitions(spark), "src")
        .persist()
    )
    sym.count()

    def step(state: DataFrame, _k: int) -> DataFrame:
        nbr = (
            sym.join(state.select(F.col("id").alias("src"), "color"), on="src")
            .groupBy(F.col("dst").alias("id"))
            .agg(
                F.concat_ws(
                    ",",
                    F.array_sort(F.collect_list(F.col("color").cast("string"))),
                ).alias("nbrs")
            )
        )
        return (
            state.select("id", F.col("color").alias("old"))
            .join(nbr, on="id", how="left")
            .select(
                "id",
                h32(
                    F.concat_ws(
                        "|",
                        F.col("old").cast("string"),
                        F.coalesce("nbrs", F.lit("")),
                    )
                ).alias("color"),
                "old",
            )
        )

    init = (
        sym.groupBy(F.col("src").alias("id"))
        .agg(F.count("*").alias("deg"))
        .select("id", h32(F.col("deg").cast("string")).alias("color"))
    )
    res = superstep.fixpoint(init, step, F.col("color") != F.col("old"), rounds)
    sym.unpersist()
    return res.state.select("id", "color")


def wl_histogram(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """(color, n_vertices) — the WL color-class histogram: the graph's
    structural signature (two isomorphic graphs share it; unequal
    histograms certify non-isomorphism)."""
    return (
        wl_colors(edges, rounds)
        .groupBy("color")
        .agg(F.count("*").cast("long").alias("n_vertices"))
    )


def wl_oracle_sql(edges_cte: str, rounds: int = 3) -> str:
    """Unrolled WL rounds; identical serialization, so per-vertex
    colors match exactly."""
    from gminer_spark.functions import h32_sql

    ctes = [
        edges_cte.strip(),
        """sym AS MATERIALIZED (
    SELECT src, dst FROM edges
    UNION SELECT dst AS src, src AS dst FROM edges)""",
        f"""c0 AS MATERIALIZED (
    SELECT src AS id, {h32_sql("CAST(COUNT(*) AS VARCHAR)")} AS color
    FROM sym GROUP BY src)""",
    ]
    for k in range(1, rounds + 1):
        p = f"c{k - 1}"
        key = (
            "CAST(c.color AS VARCHAR) || '|' || COALESCE(n.nbrs, '')"
        )
        ctes += [
            f"""n{k} AS MATERIALIZED (
    SELECT e.dst AS id,
           string_agg(CAST(s.color AS VARCHAR), ','
                      ORDER BY CAST(s.color AS VARCHAR)) AS nbrs
    FROM sym e JOIN {p} s ON s.id = e.src
    GROUP BY e.dst)""",
            f"""c{k} AS MATERIALIZED (
    SELECT c.id, {h32_sql(key)} AS color
    FROM {p} c LEFT JOIN n{k} n ON n.id = c.id)""",
        ]
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT id, color FROM c{rounds}"
    )


def wl_histogram_oracle_sql(edges_cte: str, rounds: int = 3) -> str:
    base = wl_oracle_sql(edges_cte, rounds)
    head = base[: base.rindex("\nSELECT id, color FROM ")]
    return (
        head
        + f"""
SELECT color, CAST(COUNT(*) AS BIGINT) AS n_vertices
FROM c{rounds} GROUP BY color"""
    )
