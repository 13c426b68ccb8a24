"""Full truss decomposition — per-edge trussness via local h-index.

Companion to the coreness h-index fixpoint (`graph/kcore.py`): where
k-truss (`graph/ktruss.py`) answers "which edges survive at ONE k",
trussness assigns every edge its maximum k — the full dense-subgraph
hierarchy a mining user wants (community nesting, clique cores).

Algorithm (Sariyüce, Seshadhri, Pinar — local hierarchical dense
subgraph discovery, WWW'17 analog): let ``s(e)`` estimate
trussness-2, initialized at the edge's SUPPORT (triangle count).
Each round, for every triangle T ∋ e the other two edges contribute
``m_T = min(s(f), s(g))``; the new value is

    s'(e) = min(s(e), H({m_T}))      H = the h-index operator

Monotone non-increasing per edge, fixpoint s(e) = trussness(e) - 2.
The decisive scale property vs peeling: the TRIANGLE LIST NEVER
CHANGES — it is enumerated ONCE with the degree-oriented wedge join
(the TC plan, /root/reference/apps/trianglecount.cpp:84-159; hub
fan-out arboricity-bounded), persisted, and every round is just three
hash joins of the s-table onto the fixed triangle table + one
windowed h-index — no per-k re-enumeration, no per-round wedge join.

Per round: 3 equi-joins on canonical edge keys + 1 window partitioned
by edge + 1 changed-count action (``superstep.fixpoint``: state
crosses a lazy ``plan_barrier`` — the round plan references s twice,
the Spark-4 origin-chain pitfall).  ``num_iter`` caps the round
count for the unrolled oracle; both modes stop when no edge changed
(later rounds are no-ops).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gminer_spark.graph import tables
from gminer_spark.graph.ktruss import _canonical
from gminer_spark.graph.superstep import fixpoint
from gminer_spark.graph.triangles import _wedge_closed

#: rounds executed by the most recent :func:`trussness` call — read by
#: tests and the oracle-cap measurement (same pattern as the measured
#: iter-cap discipline elsewhere; not thread-safe, diagnostics only).
last_rounds: int = 0


def _triangles_canonical(edges: DataFrame) -> DataFrame:
    """(a, b, c) with a < b < c — each triangle once, id-canonical."""
    closed = _wedge_closed(_canonical(edges), orient="degree")
    arr = F.array_sort(F.array("u", "v", "w"))
    return closed.select(
        arr[0].alias("a"), arr[1].alias("b"), arr[2].alias("c")
    )


def trussness(
    edges: DataFrame,
    num_iter: int | None = None,
    max_iter: int = 100,
) -> DataFrame:
    """(src, dst, trussness) for every canonical (src < dst) edge;
    trussness = s + 2 (edges in no triangle get 2)."""
    spark = edges.sparkSession
    n_shuffle = tables.shuffle_partitions(spark)
    canon = _canonical(edges).repartition(n_shuffle, "src", "dst").persist()
    canon.count()
    tri = (
        _triangles_canonical(canon)
        .repartition(n_shuffle, "a", "b")
        .persist()
    )
    tri.count()

    # s0 = support: triangles per canonical edge
    tri_edges = (
        tri.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(tri.select(F.col("a").alias("src"), F.col("c").alias("dst")))
        .unionByName(tri.select(F.col("b").alias("src"), F.col("c").alias("dst")))
    )
    support = tri_edges.groupBy("src", "dst").agg(F.count("*").alias("s"))
    init = canon.join(support, on=["src", "dst"], how="left").select(
        "src", "dst", F.coalesce("s", F.lit(0)).cast("long").alias("s")
    )

    def step(state: DataFrame, k: int) -> DataFrame:
        sv = state.select("src", "dst", "s")
        ab = sv.select(
            F.col("src").alias("a"), F.col("dst").alias("b"), F.col("s").alias("s_ab")
        )
        ac = sv.select(
            F.col("src").alias("a"), F.col("dst").alias("c"), F.col("s").alias("s_ac")
        )
        bc = sv.select(
            F.col("src").alias("b"), F.col("dst").alias("c"), F.col("s").alias("s_bc")
        )
        t = tri.join(ab, on=["a", "b"]).join(ac, on=["a", "c"]).join(bc, on=["b", "c"])
        contrib = (
            t.select(
                F.col("a").alias("src"),
                F.col("b").alias("dst"),
                F.least("s_ac", "s_bc").alias("m"),
            )
            .unionByName(
                t.select(
                    F.col("a").alias("src"),
                    F.col("c").alias("dst"),
                    F.least("s_ab", "s_bc").alias("m"),
                )
            )
            .unionByName(
                t.select(
                    F.col("b").alias("src"),
                    F.col("c").alias("dst"),
                    F.least("s_ab", "s_ac").alias("m"),
                )
            )
        )
        w = Window.partitionBy("src", "dst").orderBy(F.desc("m"))
        h = (
            contrib.withColumn("rn", F.row_number().over(w))
            .groupBy("src", "dst")
            .agg(F.max(F.least(F.col("m"), F.col("rn"))).alias("h"))
        )
        return (
            sv.withColumnRenamed("s", "old")
            .join(h, on=["src", "dst"], how="left")
            .select(
                "src",
                "dst",
                F.least(F.col("old"), F.coalesce("h", F.lit(0))).alias("s"),
                "old",
            )
        )

    # num_iter rounds stop at the fixpoint too: rounds past it are no-ops
    rounds = max_iter if num_iter is None else num_iter
    result = fixpoint(init, step, F.col("s") != F.col("old"), max_iter=rounds)
    global last_rounds
    last_rounds = result.supersteps_run
    if num_iter is None and not result.converged:
        import warnings

        warnings.warn(
            f"trussness: free-running h-index hit max_iter={max_iter} "
            f"with {result.history[-1]['changed']} edges still changing — "
            "result is an upper bound, not the fixpoint; raise max_iter",
            stacklevel=2,
        )
    tri.unpersist()
    canon.unpersist()
    return result.state.select(
        "src", "dst", (F.col("s") + 2).cast("int").alias("trussness")
    )


def trussness_oracle_sql(edges_cte: str, iters: int) -> str:
    """Unrolled local-h-index rounds over the ONE-TIME triangle CTE;
    ``iters`` >= measured fixpoint round count (idempotent past it)."""
    ctes = [
        edges_cte.strip(),
        """ce AS MATERIALIZED (
    SELECT LEAST(src, dst) AS src, GREATEST(src, dst) AS dst
    FROM edges WHERE src <> dst GROUP BY 1, 2)""",
        """tri AS MATERIALIZED (
    SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
    FROM ce e1
    JOIN ce e2 ON e2.src = e1.src AND e2.dst > e1.dst
    JOIN ce e3 ON e3.src = e1.dst AND e3.dst = e2.dst)""",
        """s0 AS MATERIALIZED (
    SELECT e.src, e.dst, CAST(COALESCE(t.c, 0) AS BIGINT) AS s
    FROM ce e LEFT JOIN (
        SELECT src, dst, COUNT(*) AS c FROM (
            SELECT a AS src, b AS dst FROM tri
            UNION ALL SELECT a, c FROM tri
            UNION ALL SELECT b, c FROM tri)
        GROUP BY src, dst) t
    ON t.src = e.src AND t.dst = e.dst)""",
    ]
    for i in range(1, iters + 1):
        p = f"s{i - 1}"
        ctes += [
            f"""c{i} AS MATERIALIZED (
    SELECT src, dst, m FROM (
        SELECT t.a AS src, t.b AS dst, LEAST(ac.s, bc.s) AS m
        FROM tri t
        JOIN {p} ac ON ac.src = t.a AND ac.dst = t.c
        JOIN {p} bc ON bc.src = t.b AND bc.dst = t.c
        UNION ALL
        SELECT t.a, t.c, LEAST(ab.s, bc.s)
        FROM tri t
        JOIN {p} ab ON ab.src = t.a AND ab.dst = t.b
        JOIN {p} bc ON bc.src = t.b AND bc.dst = t.c
        UNION ALL
        SELECT t.b, t.c, LEAST(ab.s, ac.s)
        FROM tri t
        JOIN {p} ab ON ab.src = t.a AND ab.dst = t.b
        JOIN {p} ac ON ac.src = t.a AND ac.dst = t.c))""",
            f"""h{i} AS MATERIALIZED (
    SELECT src, dst, MAX(LEAST(m, rn)) AS h FROM (
        SELECT src, dst, m,
               ROW_NUMBER() OVER (
                   PARTITION BY src, dst ORDER BY m DESC) AS rn
        FROM c{i})
    GROUP BY src, dst)""",
            f"""s{i} AS MATERIALIZED (
    SELECT e.src, e.dst, LEAST(e.s, COALESCE(h.h, 0)) AS s
    FROM {p} e LEFT JOIN h{i} h
    ON h.src = e.src AND h.dst = e.dst)""",
        ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT src, dst, CAST(s + 2 AS INT) AS trussness FROM s{iters}"
    )
