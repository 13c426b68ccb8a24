"""Edge-table derivations.

The reference loads a pre-partitioned adjacency text file per worker
(/root/reference/core/slave.tpp:192-210) whose format carries owner
worker ids inline (/root/reference/partition/BDGPartitioner.tpp:339-350).
We instead derive a hash-partitioned ``edges(src:long, dst:long)``
DataFrame from relational/web sources and let the shuffle place rows;
ownership is a function ``pmod(hash(src), n_parts)`` instead of data.

Two sources:

* :func:`copurchase_edges` — the deterministic benchmark/correctness
  graph used by the driver harness: two parts are linked when they
  appear on the same order (TPC-H-ish ``lineitem``).  Expressible in
  ANSI SQL, so DuckDB can act as an oracle for every downstream
  algorithm.
* the web path (``gminer_spark.web``) — edges minted from hrefs in a
  Common-Crawl-style ``pages`` table (the `BASELINE.json` input_hint);
  see :mod:`gminer_spark.web.edges`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed, canonicalized (src < dst) part co-occurrence edges.

    Self-pairs excluded, duplicates collapsed.  The ``src < dst``
    canonical form mirrors the reference TC app's one-direction
    orientation (/root/reference/apps/trianglecount.cpp:144-148:
    seeds keep only ``nbr.id > vid``).

    Scale note: the join key is ``l_orderkey`` (bounded group size —
    lines per order), so the pair blow-up per group is small and the
    single shuffle is on the order key; output is deduped with a
    partial-aggregate-backed ``distinct``.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    return (
        a.join(b, on="l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").cast("long").alias("src"),
            F.col("b.l_partkey").cast("long").alias("dst"),
        )
        .distinct()
    )


def copurchase_weighted_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase edges with ``w`` = number of shared orders.

    Same topology as :func:`copurchase_edges`; the weight is the
    natural link strength (how often the two parts co-occur).  One
    shuffle on the order key, count folded map-side.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    return (
        a.join(b, on="l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").cast("long").alias("src"),
            F.col("b.l_partkey").cast("long").alias("dst"),
        )
        .agg(F.count("*").cast("long").alias("w"))
    )


COPURCHASE_EDGES_SQL = """
    SELECT DISTINCT
        CAST(a.l_partkey AS BIGINT) AS src,
        CAST(b.l_partkey AS BIGINT) AS dst
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey
     AND a.l_partkey < b.l_partkey
"""


def symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected view: both directions, no self-loops, deduped.

    Mirrors the reference's undirected adjacency-list input (each edge
    listed in both endpoints' lines, sample-datasets/normal_sample.adj).
    """
    fwd = edges.select("src", "dst")
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return fwd.unionByName(rev).where(F.col("src") != F.col("dst")).distinct()


def vertices(edges: DataFrame) -> DataFrame:
    """Distinct vertex ids appearing as either endpoint."""
    return (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def degrees(edges: DataFrame) -> DataFrame:
    """Per-vertex out/in/total degree over the directed edge table.

    The degree table backs degree-ordered orientation (skew fix) and
    the reference's seed filters (e.g. TC requires adjlist.size() > 1,
    /root/reference/apps/trianglecount.cpp:139-140).
    """
    out_deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("out_deg")
    )
    in_deg = edges.groupBy(F.col("dst").alias("id")).agg(F.count("*").alias("in_deg"))
    return (
        out_deg.join(in_deg, on="id", how="full")
        .select(
            "id",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
        )
        .withColumn("degree", F.col("out_deg") + F.col("in_deg"))
    )


def distinct_edges(edges: DataFrame) -> DataFrame:
    """The distinct ``(src, dst)`` pairs, hash-partitioned on ``src``
    and persisted: the table a link-analysis loop joins every round."""
    n = shuffle_partitions(edges.sparkSession)
    return edges.select("src", "dst").distinct().repartition(n, "src").persist()


def ensure_materialized(df: DataFrame) -> tuple[DataFrame, int, bool]:
    """Persist ``df`` (if the caller hasn't) and force one materialization.

    Returns ``(df, n_rows, we_persisted)``.  Callers that need a row
    count to SIZE their shuffle (sized_partitions) must count the
    persisted table, not raw lineage — otherwise an expensive upstream
    plan (e.g. the co-purchase self-join) runs once for the count and
    again for the real work.  ``we_persisted`` tells the caller whether
    unpersisting at the end is its responsibility (never unpersist a
    caller-owned persist).

    A caller-cached input whose blocks are all loaded already knows its
    row count (the cache builder's stats, the number Catalyst sizes the
    relation with), so it costs no count job; any other input is counted.
    """
    from pyspark import StorageLevel

    we_persisted = df.storageLevel == StorageLevel.NONE
    if we_persisted:
        df = df.persist()
    else:
        n_rows = _loaded_cache_rows(df)
        if n_rows is not None:
            return df, n_rows, False
    return df, df.count(), we_persisted


def counted_checkpoint(df: DataFrame) -> tuple[DataFrame, int]:
    """``df.localCheckpoint()`` and its row count, both from the one job
    that writes the checkpoint (an ``Observation``): no count job."""
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint()
    return df, obs.get["n"]


def _loaded_cache_rows(df: DataFrame) -> int | None:
    """Row count of ``df``'s cached relation if every block is loaded."""
    cached = (
        df.sparkSession._jsparkSession.sharedState()
        .cacheManager()
        .lookupCachedData(df._jdf)
    )
    if cached.isEmpty():
        return None
    builder = cached.get().cachedRepresentation().cacheBuilder()
    if not builder.isCachedColumnBuffersLoaded():
        return None
    return int(builder.rowCountStats().value())


def shuffle_partitions(spark: SparkSession, default: int = 32) -> int:
    """Session shuffle-partition count, robust to non-numeric conf
    values (e.g. a harness session with AQE-managed settings)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return default


def sized_partitions(spark: SparkSession, n_rows: int, rows_per_partition: int = 200_000) -> int:
    """Shuffle-partition count sized to the data: the session conf is a
    CEILING, not a floor — a vanilla 200-partition session must not run
    200 near-empty tasks per superstep on a 100k-edge graph, and a
    tuned session keeps its setting for big inputs."""
    want = max(8, -(-n_rows // rows_per_partition))
    return min(shuffle_partitions(spark), want)


def plan_barrier(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` and return it behind a HARD plan barrier —
    a ``LogicalRDD`` with NO origin linkage.

    Spark 4's ``Dataset.localCheckpoint`` keeps a reference to the
    origin plan to rewrite stats and constraints onto the new leaf
    (``LogicalRDD.rewriteStatsAndConstraints``).  In an iterative loop
    whose round plan references the running state table TWICE (e.g. a
    delta-frontier update: once for neighbor values, once to carry
    unchanged rows), that origin chain forms a tree that DOUBLES per
    round, and Catalyst analysis (``DeduplicateRelations`` walking the
    chain) goes geometric — measured 0.5s -> 25s per round by round 16
    of the coreness loop at sf0.01, with the visible plan constant.

    The barrier routes through ``SparkSession.createDataFrame(JavaRDD
    [Row], schema)`` entirely JVM-side (no python round-trip) with the
    underlying RDD locally checkpointed, producing the classic
    origin-free leaf.  Cost: one Row<->InternalRow re-encode of the
    table per downstream action — negligible for O(|V|) state tables,
    which is the only place it should be used.  For single-reference
    chains (fixed-round PageRank, whose round reads its state once)
    plain ``localCheckpoint`` stays preferable (origin chain grows
    linearly and the encoder hop is avoided); the vote-to-halt loops
    get the lazy form from ``superstep.fixpoint``.

    ``eager=False`` skips the materializing count: the FIRST downstream
    action checkpoints the blocks instead, letting a loop fuse the
    barrier with its convergence-signal action (one Spark job per
    round instead of two).
    """
    spark = df.sparkSession
    jdf = df._jdf
    jrdd = jdf.javaRDD()
    jrdd.rdd().localCheckpoint()
    out = DataFrame(spark._jsparkSession.createDataFrame(jrdd, jdf.schema()), spark)
    if eager:
        out.count()  # materialize the checkpoint blocks now
    return out
