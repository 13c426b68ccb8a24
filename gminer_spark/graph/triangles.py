"""Exact triangle counting with degree-ordered edge orientation.

The reference TC app (/root/reference/apps/trianglecount.cpp) seeds a
task per vertex with its higher-id neighbors (:135-159), ships only
the truncated adjacency on pull (:119-133), and merge-intersects
sorted adjacency lists (:84-111); the global count is a partial+final
sum aggregator (:45-77).

Spark-first re-expression: orient every undirected edge from the
lower-ranked endpoint to the higher-ranked one, group the oriented
edges into out-lists N⁺(u) (a CSR, materialized once), and give each
oriented edge u→v both out-lists.  Then

    triangles = Σ_{u→v} |N⁺(u) ∩ N⁺(v)|

with the intersection a JVM ``array_intersect`` — no wedge rows, no
iteration, and the one lookup (N⁺(v) by ``v``) is a broadcast on a
single bigint key under the size gate.  Orientation by id matches the
reference exactly; orientation by (degree, id) is the skew-robust
variant (hub fan-out bounded by arboricity — SURVEY.md §4 row 3):
each vertex's out-degree in the oriented graph is O(sqrt(|E|)) for
any graph.

The degree rank compares ``(deg, id)`` as a pair, never packed into
one bigint: ids span the full signed 64-bit range (web ids are
xxhash64 values), so a packed key would lose the degree and could
collide.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from gminer_spark.graph import tables

# Broadcast ceiling for edge-derived lookup tables (~rows of two longs
# ≈ 500 MB at the limit).  Aggressive for a laptop, conservative for
# the 100-TB target's executor memory; revisit per cluster config.
BROADCAST_ROW_LIMIT = 20_000_000


def gated_broadcast(df: DataFrame, n_rows: int, limit: int = BROADCAST_ROW_LIMIT):
    """Broadcast ``df`` only when ``n_rows`` is under the gate; above it
    return ``df`` unchanged so the join falls back to a shuffle.  An
    UNgated broadcast of an O(|E|)/O(|V|) table is a guaranteed
    driver/executor OOM at web scale — the reference's pull is likewise
    a shuffled lookup, never a replication
    (/root/reference/core/slave.tpp:307-401)."""
    return F.broadcast(df) if n_rows <= limit else df


def oriented_edges(edges: DataFrame, orient: str = "degree") -> DataFrame:
    """Orient the undirected closure of ``edges`` low-rank → high-rank.

    ``orient="id"``: rank = vertex id (reference semantics,
    apps/trianglecount.cpp:144-148).  ``orient="degree"``: rank =
    (undirected degree, id) — the load-balance orientation.
    Output columns ``(src, dst)`` with rank(src) < rank(dst); the
    degree orientation adds both endpoint degrees ``(src_deg,
    dst_deg)``.
    """
    if orient == "id":
        return tables.symmetrize(edges).where(F.col("src") < F.col("dst"))
    # One reference chain over the input, so its symmetric shuffle runs
    # once: AQE reuses no exchange above a cached input, and the former
    # symmetrize + degree self-join ran that shuffle three times.  The
    # src-partitioned symmetric view serves the dedup and the degree
    # window without a second exchange; one regroup per undirected pair
    # {a < b} then brings both endpoint degrees onto one row.  Each
    # side ships its degree signed (+ from a, − from b): three longs a
    # row instead of two aggregation buffers.  As a < b, (deg_a, a) <
    # (deg_b, b) iff deg_a <= deg_b.
    n = tables.shuffle_partitions(edges.sparkSession)
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    sym = (
        edges.select("src", "dst")
        .unionByName(rev)
        .where(F.col("src") != F.col("dst"))
        .repartition(n, "src")
        .distinct()
    )
    deg = F.count("*").over(Window.partitionBy("src"))
    ends = sym.select(
        F.least("src", "dst").alias("a"),
        F.greatest("src", "dst").alias("b"),
        F.when(F.col("src") < F.col("dst"), deg).otherwise(-deg).alias("sdeg"),
    )
    pairs = (
        ends.repartition(n, "a", "b")
        .groupBy("a", "b")
        .agg(F.max("sdeg").alias("da"), (-F.min("sdeg")).alias("db"))
    )
    fwd = F.col("da") <= F.col("db")
    return pairs.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(fwd, F.col("da")).otherwise(F.col("db")).alias("src_deg"),
        F.when(fwd, F.col("db")).otherwise(F.col("da")).alias("dst_deg"),
    )


def _csr_pairs(
    edges: DataFrame, orient: str, broadcast_limit: int = BROADCAST_ROW_LIMIT
) -> tuple[DataFrame, DataFrame]:
    """The oriented CSR and its edge pairs: ``(adj, pairs)``.

    ``adj`` is ``(u, nu)``, the out-list N⁺(u) of every vertex with an
    oriented out-edge, materialized once; ``pairs`` is ``(u, v, nu,
    nv)``, one row per oriented edge u→v carrying both out-lists, so
    N⁺(u) ∩ N⁺(v) are exactly the w closing u→v→w.  The degree
    orientation keeps every list at O(√|E|).  The N⁺(v) lookup is
    broadcast on the single bigint key ``v`` when |E⁺| (observed by
    the materializing job, no count job) is under ``broadcast_limit``;
    above it the join is a shuffle join.
    """
    return _oriented_csr(oriented_edges(edges, orient=orient), broadcast_limit)


def _oriented_csr(
    e: DataFrame, broadcast_limit: int = BROADCAST_ROW_LIMIT
) -> tuple[DataFrame, DataFrame]:
    """:func:`_csr_pairs` over edges ``e`` already oriented by
    :func:`oriented_edges`."""
    obs = Observation()
    adj = (
        e.groupBy(F.col("src").alias("u"))
        .agg(F.collect_list("dst").alias("nu"))
        .observe(obs, F.coalesce(F.sum(F.size("nu")), F.lit(0)).alias("n"))
        .localCheckpoint()
    )
    nbrs = adj.select(F.col("u").alias("v"), F.col("nu").alias("nv"))
    pairs = adj.select("u", F.explode("nu").alias("v"), "nu").join(
        gated_broadcast(nbrs, obs.get["n"], broadcast_limit), on="v"
    )
    return adj, pairs.select("u", "v", "nu", "nv")


def triangle_count(edges: DataFrame, orient: str = "degree") -> int:
    """Global exact triangle count: Σ |N⁺(u) ∩ N⁺(v)| over oriented
    edges u→v, with no per-triangle rows."""
    _, pairs = _csr_pairs(edges, orient)
    tris = F.sum(F.size(F.array_intersect("nu", "nv")))
    return int(pairs.agg(F.coalesce(tris, F.lit(0))).first()[0])


def triangles_per_vertex(edges: DataFrame, orient: str = "degree") -> DataFrame:
    """Per-vertex triangle participation counts ``(id, triangles)``.

    Each closed wedge (u, v, w) contributes to all three corners —
    the per-task counts the reference folds into its aggregator.
    """
    corners = _wedge_closed(edges, orient).select(
        F.explode(F.array("u", "v", "w")).alias("id")
    )
    return corners.groupBy("id").agg(F.count("*").alias("triangles"))


def _wedge_closed(edges: DataFrame, orient: str) -> DataFrame:
    """Closed wedges (u, v, w): u→v, u→w, v→w all oriented edges, so
    rank u < rank v < rank w and each triangle appears once."""
    return _closed(_csr_pairs(edges, orient)[1])


def _closed(pairs: DataFrame) -> DataFrame:
    """(u, v, w) rows of :func:`_csr_pairs` output: each oriented edge
    u→v explodes the intersection N⁺(u) ∩ N⁺(v) of its two out-lists
    (the reference's merge-intersection, apps/trianglecount.cpp:84-111),
    so no wedge row is ever built."""
    return pairs.select(
        "u", "v", F.explode(F.array_intersect("nu", "nv")).alias("w")
    )


def triad_census(edges: DataFrame, coin_salt: str = "dir") -> DataFrame:
    """1-row ``(n_triangles, n_cyclic, n_transitive)`` — the directed
    triangle census over the deterministic md5-coin orientation of the
    undirected edge table (each undirected pair gets exactly one
    direction: ``h32(salt:min:max) % 2 == 0`` means min→max — the same
    coin as the bow-tie/SCC contract views).

    Of the 8 orientations of a triangle, 2 are cycles (030C in the
    Holland–Leinhardt taxonomy) and 6 are transitive (030T); a real
    web graph is overwhelmingly transitive — the cyclic fraction is a
    cheap anomaly signal for link-exchange rings.

    Scale shape: rides the degree-oriented CSR intersection (the
    skew-robust enumeration), then classifies each triangle with three
    JVM-side hash bits — no extra join against a direction table, no shuffle
    beyond the triangle count itself.
    """
    from gminer_spark.functions import h32

    closed = _wedge_closed(edges, orient="degree")
    a = F.least("u", "v", "w")
    c = F.greatest("u", "v", "w")
    b = F.col("u") + F.col("v") + F.col("w") - a - c

    def fwd(x, y):  # coin says lower-id endpoint → higher-id endpoint
        return (
            h32(F.concat_ws(":", F.lit(coin_salt), x.cast("string"), y.cast("string")))
            % 2
            == 0
        )

    f_ab = fwd(a, b)
    f_ac = fwd(a, c)
    f_bc = fwd(b, c)
    cyclic = (f_ab == f_bc) & (f_ab != f_ac)
    return closed.agg(
        F.count("*").cast("long").alias("n_triangles"),
        F.sum(cyclic.cast("long")).cast("long").alias("n_cyclic"),
        F.sum((~cyclic).cast("long")).cast("long").alias("n_transitive"),
    )


def triad_census_oracle_sql(edges_cte: str, coin_salt: str = "dir") -> str:
    """DuckDB mirror: canonical triangle join + the identical coin."""
    from gminer_spark.functions import h32_sql

    def fwd(x, y):
        return (
            h32_sql(f"'{coin_salt}:' || CAST({x} AS VARCHAR) || ':' || "
                    f"CAST({y} AS VARCHAR)")
            + " % 2 = 0"
        )

    return f"""
WITH {edges_cte.strip()},
tri AS MATERIALIZED (
    SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
    FROM edges e1
    JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
    JOIN edges e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
bits AS (
    SELECT ({fwd('a', 'b')}) AS f_ab,
           ({fwd('a', 'c')}) AS f_ac,
           ({fwd('b', 'c')}) AS f_bc
    FROM tri)
SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles,
       CAST(COALESCE(SUM(CASE WHEN f_ab = f_bc AND f_ab <> f_ac
                              THEN 1 END), 0) AS BIGINT) AS n_cyclic,
       CAST(COALESCE(SUM(CASE WHEN NOT (f_ab = f_bc AND f_ab <> f_ac)
                              THEN 1 END), 0) AS BIGINT) AS n_transitive
FROM bits"""
