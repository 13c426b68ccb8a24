"""Driver-harness contract: named queries + DuckDB oracle SQL.

Each query is an operator (or composition) from SURVEY.md §2,
expressed Spark-first; each oracle is ANSI SQL that DuckDB runs on
the same parquet tables.  Iterative algorithms get *unrolled* oracle
SQL (a CTE chain per superstep) or a recursive CTE, so even PageRank
/ CC / LPA are value-checked, not just row-counted.

Cross-engine determinism rules used throughout:
* every hash is md5-derived (gminer_spark.functions.h32);
* every float output is rounded (micro-units for PageRank);
* every top-k has a total-order tie-break;
* timestamps are emitted as formatted strings.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gminer_spark.functions import h32 as h32_spark
from gminer_spark.functions import h32_sql
from gminer_spark.graph import tables as gt

# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB dialect; ANSI subset)
# ---------------------------------------------------------------------------

EDGES_CTE = """
edges AS (
    SELECT DISTINCT CAST(a.l_partkey AS BIGINT) AS src,
                    CAST(b.l_partkey AS BIGINT) AS dst
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)"""

SYM_CTE = """
sym AS (
    SELECT src, dst FROM edges
    UNION
    SELECT dst AS src, src AS dst FROM edges
)"""

VERTS_CTE = """
verts AS (
    SELECT DISTINCT src AS id FROM sym
)"""

WORDS_CTE = """
words AS (
    SELECT doc_id, unnest(l) AS word, unnest(range(1, len(l)+1)) AS pos
    FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS l
          FROM documents)
)"""

RETRIEVAL_TERMS = ["spark", "vector", "stream", "join"]

SHINGLES_CTE = """
shingles AS (
    SELECT DISTINCT doc_id,
           word || ' ' ||
           lead(word, 1) OVER (PARTITION BY doc_id ORDER BY pos) || ' ' ||
           lead(word, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS shingle
    FROM words
    QUALIFY lead(word, 2) OVER (PARTITION BY doc_id ORDER BY pos) IS NOT NULL
)"""


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gt.copurchase_edges(spark, sf_dir)


def _doc(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# oracle generators for the iterative algorithms
# ---------------------------------------------------------------------------

PR_ITERS = 15
LPA_ITERS = 3
KCORE_K = 80
KCORE_ITERS = 8  # sf0.01 converges in 5 peel rounds; margin for safety
KTRUSS_K = 12
KTRUSS_ITERS = 7  # sf0.01 converges in 4 support-peel rounds; margin
CORENESS_H_ITERS = 22  # sf0.01 h-index fixpoint at round 18; margin
SSSP_ITERS = 6  # sf0.01 converges in 3 Bellman-Ford rounds; margin
MIS_ITERS = 10  # sf0.01 empties the undecided set in 7 Luby rounds; margin
SCORE_K = 60  # s-core strength threshold: sf0.01 stabilizes in 2 rounds
SCORE_ITERS = 5  # margin over the measured 2 peel rounds
BC_SEED_MOD = 199  # betweenness source sample (11 sources at sf0.01)
BC_DEPTH = 5  # sample eccentricity is 3 at sf0.01; margin (empty levels no-op)
LM_K = 8  # landmark sketch size (top-degree hubs)
LM_DEPTH = 5  # hub eccentricity is 3 at sf0.01; margin (empty levels no-op)
LM_U_MOD = 97  # pair-estimate sample: u side (21 vertices at sf0.01)
LM_V_MOD = 89  # pair-estimate sample: v side (23 vertices at sf0.01)
COCIT_TOPK = 100  # co-citation / coupling result size
COCIT_MAXDEG = 256  # hub-center cut (max_df discipline) for wedge pairs
COLOR_SUB_MOD = 16  # h32 edge-sample for the coloring input (avg deg ~7)
COLOR_ITERS = 26  # Jones-Plassmann fixpoint at sf0.01 is 21 rounds; margin
MATCH_ITERS = 10  # matching empties the live set in 6 rounds at sf0.01; margin
BFLY_MAXDEG = 1024  # right-hub cap for the butterfly wedge join
BITRUSS_ITERS = 6  # sf0.01 fixpoint measured 3; idempotent past it
FUNNEL_STEPS = ["view", "click", "purchase"]  # ordered funnel
TRUSS_SUB_MOD = 2  # h32 half-graph sample for trussness (full graph ~4x cost)
TRUSS_ITERS = 36  # local h-index fixpoint at sf0.01 is 30 rounds; margin
SNAP_CUTOFF = "1998-01-01"  # snapshot t1 = orders strictly before this date


def _materialize(cte: str) -> str:
    """``name AS (...)`` → ``name AS MATERIALIZED (...)`` — stops DuckDB
    from inlining (and re-opening the parquet for) every reference in
    an unrolled iteration chain."""
    name, _, body = cte.partition(" AS ")
    return f"{name} AS MATERIALIZED {body}"


def pagerank_oracle_sql(iters: int = PR_ITERS, damping: float = 0.85) -> str:
    """Unrolled PageRank as a CTE chain (one CTE per superstep)."""
    ctes = [
        _materialize(EDGES_CTE.strip()),
        _materialize(SYM_CTE.strip()),
        _materialize(VERTS_CTE.strip()),
        _materialize("""deg AS (
    SELECT v.id, COALESCE(o.c, 0) AS out_deg
    FROM verts v LEFT JOIN (
        SELECT src, COUNT(*) AS c FROM edges GROUP BY src) o
    ON v.id = o.src
)"""),
        _materialize("n AS (SELECT COUNT(*) AS cnt FROM verts)"),
        _materialize(
            "r0 AS (SELECT d.id, 1.0/(SELECT cnt FROM n) AS rank, d.out_deg FROM deg d)"
        ),
    ]
    for k in range(1, iters + 1):
        p = f"r{k - 1}"
        ctes.append(
            f"""r{k} AS MATERIALIZED (
    SELECT d.id,
           (1.0 - {damping})/(SELECT cnt FROM n)
           + {damping} * (
               COALESCE(c.contrib, 0.0)
               + (SELECT COALESCE(SUM(rank), 0.0) FROM {p} WHERE out_deg = 0)
                 / (SELECT cnt FROM n)
           ) AS rank,
           d.out_deg
    FROM deg d LEFT JOIN (
        SELECT e.dst, SUM(r.rank / r.out_deg) AS contrib
        FROM edges e JOIN {p} r ON e.src = r.id
        GROUP BY e.dst) c
    ON d.id = c.dst
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id, CAST(ROUND(rank * 1e6) AS BIGINT) AS rank_micro FROM r{iters}"
    )


WEDGES_CTE = """
wedges AS (
    SELECT CAST(a.l_partkey AS BIGINT) AS src,
           CAST(b.l_partkey AS BIGINT) AS dst,
           CAST(COUNT(*) AS DOUBLE) AS w
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
)"""


def pagerank_weighted_oracle_sql(iters: int = PR_ITERS, damping: float = 0.85) -> str:
    """Unrolled WEIGHTED PageRank: contributions are rank * w / out-strength
    (out-strength = Σ of outgoing weights); teleport/dangling unchanged."""
    ctes = [
        _materialize(WEDGES_CTE.strip()),
        _materialize("""sym AS (
    SELECT src, dst FROM wedges
    UNION SELECT dst AS src, src AS dst FROM wedges
)"""),
        _materialize(VERTS_CTE.strip()),
        _materialize("""deg AS (
    SELECT v.id, COALESCE(o.s, 0.0) AS out_deg
    FROM verts v LEFT JOIN (
        SELECT src, SUM(w) AS s FROM wedges GROUP BY src) o
    ON v.id = o.src
)"""),
        _materialize("n AS (SELECT COUNT(*) AS cnt FROM verts)"),
        _materialize(
            "r0 AS (SELECT d.id, 1.0/(SELECT cnt FROM n) AS rank, d.out_deg FROM deg d)"
        ),
    ]
    for k in range(1, iters + 1):
        p = f"r{k - 1}"
        ctes.append(
            f"""r{k} AS MATERIALIZED (
    SELECT d.id,
           (1.0 - {damping})/(SELECT cnt FROM n)
           + {damping} * (
               COALESCE(c.contrib, 0.0)
               + (SELECT COALESCE(SUM(rank), 0.0) FROM {p} WHERE out_deg = 0)
                 / (SELECT cnt FROM n)
           ) AS rank,
           d.out_deg
    FROM deg d LEFT JOIN (
        SELECT e.dst, SUM(r.rank * e.w / r.out_deg) AS contrib
        FROM wedges e JOIN {p} r ON e.src = r.id
        GROUP BY e.dst) c
    ON d.id = c.dst
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id, CAST(ROUND(rank * 1e6) AS BIGINT) AS rank_micro FROM r{iters}"
    )


def host_pagerank_oracle_sql(
    links_cte: str, iters: int = PR_ITERS, damping: float = 0.85
) -> str:
    """Weighted PageRank over the DOMAIN-level host graph: roll page
    links up to cross-host (src_host, dst_host, w=link-count) edges,
    hash hosts to h32 ids (cross-engine md5), then run the exact
    weighted chain of ``pagerank_weighted_oracle_sql`` and join the
    host string back at the end.  ``links_cte`` must define
    ``links(src_url, dst_url)``."""
    hs = "lower(regexp_extract(src_url, '^https?://([^/?#]+)', 1))"
    hd = "lower(regexp_extract(dst_url, '^https?://([^/?#]+)', 1))"
    ctes = [
        _materialize(links_cte.strip()),
        _materialize(f"""hedges AS (
    SELECT src_host, dst_host, CAST(COUNT(*) AS DOUBLE) AS w
    FROM (SELECT {hs} AS src_host, {hd} AS dst_host FROM links)
    WHERE src_host <> '' AND dst_host <> '' AND src_host <> dst_host
    GROUP BY src_host, dst_host
)"""),
        _materialize(f"""hverts AS (
    SELECT DISTINCT host, {h32_sql("host")} AS id
    FROM (SELECT src_host AS host FROM hedges
          UNION ALL SELECT dst_host AS host FROM hedges)
)"""),
        _materialize(f"""wid AS (
    SELECT {h32_sql("src_host")} AS src, {h32_sql("dst_host")} AS dst, w
    FROM hedges
)"""),
        _materialize("""deg AS (
    SELECT v.id, COALESCE(o.s, 0.0) AS out_deg
    FROM hverts v LEFT JOIN (
        SELECT src, SUM(w) AS s FROM wid GROUP BY src) o
    ON v.id = o.src
)"""),
        _materialize("n AS (SELECT COUNT(*) AS cnt FROM hverts)"),
        _materialize(
            "r0 AS (SELECT d.id, 1.0/(SELECT cnt FROM n) AS rank, d.out_deg FROM deg d)"
        ),
    ]
    for k in range(1, iters + 1):
        p = f"r{k - 1}"
        ctes.append(
            f"""r{k} AS MATERIALIZED (
    SELECT d.id,
           (1.0 - {damping})/(SELECT cnt FROM n)
           + {damping} * (
               COALESCE(c.contrib, 0.0)
               + (SELECT COALESCE(SUM(rank), 0.0) FROM {p} WHERE out_deg = 0)
                 / (SELECT cnt FROM n)
           ) AS rank,
           d.out_deg
    FROM deg d LEFT JOIN (
        SELECT e.dst, SUM(r.rank * e.w / r.out_deg) AS contrib
        FROM wid e JOIN {p} r ON e.src = r.id
        GROUP BY e.dst) c
    ON d.id = c.dst
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT v.host, CAST(ROUND(r.rank * 1e6) AS BIGINT) AS rank_micro
FROM r{iters} r JOIN hverts v ON v.id = r.id
"""
    )


PPR_SEED_MOD = 97


def ppr_oracle_sql(iters: int = PR_ITERS, damping: float = 0.85) -> str:
    """Unrolled PERSONALIZED PageRank: teleport and dangling mass land
    uniformly on the seed set (``id % PPR_SEED_MOD == 0``); the walk
    starts from the seeds (r0 = reset vector)."""
    ctes = [
        _materialize(EDGES_CTE.strip()),
        _materialize(SYM_CTE.strip()),
        _materialize(VERTS_CTE.strip()),
        _materialize(
            f"ns AS (SELECT COUNT(*) AS cnt FROM verts WHERE id % {PPR_SEED_MOD} = 0)"
        ),
        _materialize(f"""deg AS (
    SELECT v.id, COALESCE(o.c, 0) AS out_deg,
           CASE WHEN v.id % {PPR_SEED_MOD} = 0
                THEN 1.0/(SELECT cnt FROM ns) ELSE 0.0 END AS reset
    FROM verts v LEFT JOIN (
        SELECT src, COUNT(*) AS c FROM edges GROUP BY src) o
    ON v.id = o.src
)"""),
        _materialize("r0 AS (SELECT id, reset AS rank, out_deg, reset FROM deg)"),
    ]
    for k in range(1, iters + 1):
        p = f"r{k - 1}"
        ctes.append(
            f"""r{k} AS MATERIALIZED (
    SELECT d.id,
           (1.0 - {damping}) * d.reset
           + {damping} * (
               COALESCE(c.contrib, 0.0)
               + (SELECT COALESCE(SUM(rank), 0.0) FROM {p} WHERE out_deg = 0)
                 * d.reset
           ) AS rank,
           d.out_deg, d.reset
    FROM deg d LEFT JOIN (
        SELECT e.dst, SUM(r.rank / r.out_deg) AS contrib
        FROM edges e JOIN {p} r ON e.src = r.id
        GROUP BY e.dst) c
    ON d.id = c.dst
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id, CAST(ROUND(rank * 1e6) AS BIGINT) AS rank_micro FROM r{iters}"
    )


def spam_mass_oracle_sql(iters: int = PR_ITERS, damping: float = 0.85) -> str:
    """TrustRank spam mass (Gyöngyi/Garcia-Molina/Pedersen 2004):
    global PageRank and trusted-seed personalized PageRank as TWO
    unrolled chains over SHARED edges/verts/deg CTEs, then
    ``(pr - trust) / pr`` per vertex.  Each chain's per-step
    expression shape is copied verbatim from the value-green
    ``pagerank_oracle_sql`` / ``ppr_oracle_sql`` so the micro-rounding
    stays cross-engine identical."""
    ctes = [
        _materialize(EDGES_CTE.strip()),
        _materialize(SYM_CTE.strip()),
        _materialize(VERTS_CTE.strip()),
        _materialize("n AS (SELECT COUNT(*) AS cnt FROM verts)"),
        _materialize(
            f"ns AS (SELECT COUNT(*) AS cnt FROM verts WHERE id % {PPR_SEED_MOD} = 0)"
        ),
        _materialize(f"""deg AS (
    SELECT v.id, COALESCE(o.c, 0) AS out_deg,
           CASE WHEN v.id % {PPR_SEED_MOD} = 0
                THEN 1.0/(SELECT cnt FROM ns) ELSE 0.0 END AS reset
    FROM verts v LEFT JOIN (
        SELECT src, COUNT(*) AS c FROM edges GROUP BY src) o
    ON v.id = o.src
)"""),
        _materialize(
            "g0 AS (SELECT d.id, 1.0/(SELECT cnt FROM n) AS rank, d.out_deg FROM deg d)"
        ),
        _materialize("t0 AS (SELECT id, reset AS rank, out_deg, reset FROM deg)"),
    ]
    for k in range(1, iters + 1):
        p = f"g{k - 1}"
        ctes.append(
            f"""g{k} AS MATERIALIZED (
    SELECT d.id,
           (1.0 - {damping})/(SELECT cnt FROM n)
           + {damping} * (
               COALESCE(c.contrib, 0.0)
               + (SELECT COALESCE(SUM(rank), 0.0) FROM {p} WHERE out_deg = 0)
                 / (SELECT cnt FROM n)
           ) AS rank,
           d.out_deg
    FROM deg d LEFT JOIN (
        SELECT e.dst, SUM(r.rank / r.out_deg) AS contrib
        FROM edges e JOIN {p} r ON e.src = r.id
        GROUP BY e.dst) c
    ON d.id = c.dst
)"""
        )
        p = f"t{k - 1}"
        ctes.append(
            f"""t{k} AS MATERIALIZED (
    SELECT d.id,
           (1.0 - {damping}) * d.reset
           + {damping} * (
               COALESCE(c.contrib, 0.0)
               + (SELECT COALESCE(SUM(rank), 0.0) FROM {p} WHERE out_deg = 0)
                 * d.reset
           ) AS rank,
           d.out_deg, d.reset
    FROM deg d LEFT JOIN (
        SELECT e.dst, SUM(r.rank / r.out_deg) AS contrib
        FROM edges e JOIN {p} r ON e.src = r.id
        GROUP BY e.dst) c
    ON d.id = c.dst
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT g.id,
       CAST(ROUND(g.rank * 1e6) AS BIGINT) AS pr_micro,
       CAST(ROUND(t.rank * 1e6) AS BIGINT) AS trust_micro,
       CAST(ROUND((g.rank - t.rank) / g.rank * 1e6) AS BIGINT)
           AS spam_mass_micro
FROM g{iters} g JOIN t{iters} t ON t.id = g.id
"""
    )


def lpa_oracle_sql(iters: int = LPA_ITERS) -> str:
    """Unrolled sync LPA: mode-of-neighbor-labels, tie (cnt desc, label asc)."""
    ctes = [
        EDGES_CTE.strip(),
        SYM_CTE.strip(),
        VERTS_CTE.strip(),
        "l0 AS (SELECT id, id AS label FROM verts)",
    ]
    for k in range(1, iters + 1):
        p = f"l{k - 1}"
        ctes.append(
            f"""m{k} AS (
    SELECT s.dst AS id, l.label, COUNT(*) AS cnt
    FROM sym s JOIN {p} l ON s.src = l.id
    GROUP BY s.dst, l.label
)""",
        )
        ctes.append(
            f"""l{k} AS (
    SELECT v.id, COALESCE(m.label, prev.label) AS label
    FROM verts v
    JOIN {p} prev ON v.id = prev.id
    LEFT JOIN (
        SELECT id, label FROM (
            SELECT id, label,
                   ROW_NUMBER() OVER (PARTITION BY id
                                      ORDER BY cnt DESC, label ASC) AS rn
            FROM m{k}) x WHERE rn = 1) m
    ON v.id = m.id
)"""
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT id, label FROM l{iters}"


def lpa_weighted_oracle_sql(iters: int = LPA_ITERS) -> str:
    """Unrolled WEIGHTED sync LPA: votes weighted by shared-order
    count; tie (weight-sum desc, label asc).  Integer sums keep the
    mode deterministic across engines."""
    ctes = [
        """wedges AS MATERIALIZED (
    SELECT CAST(a.l_partkey AS BIGINT) AS src,
           CAST(b.l_partkey AS BIGINT) AS dst,
           COUNT(*) AS w
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
)""",
        """wsym AS MATERIALIZED (
    SELECT src, dst, w FROM wedges
    UNION SELECT dst AS src, src AS dst, w FROM wedges
)""",
        "verts AS MATERIALIZED (SELECT DISTINCT src AS id FROM wsym)",
        "l0 AS (SELECT id, id AS label FROM verts)",
    ]
    for k in range(1, iters + 1):
        p = f"l{k - 1}"
        ctes.append(
            f"""m{k} AS (
    SELECT s.dst AS id, l.label, SUM(s.w) AS cnt
    FROM wsym s JOIN {p} l ON s.src = l.id
    GROUP BY s.dst, l.label
)""",
        )
        ctes.append(
            f"""l{k} AS MATERIALIZED (
    SELECT v.id, COALESCE(m.label, prev.label) AS label
    FROM verts v
    JOIN {p} prev ON v.id = prev.id
    LEFT JOIN (
        SELECT id, label FROM (
            SELECT id, label,
                   ROW_NUMBER() OVER (PARTITION BY id
                                      ORDER BY cnt DESC, label ASC) AS rn
            FROM m{k}) x WHERE rn = 1) m
    ON v.id = m.id
)"""
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT id, label FROM l{iters}"


CC_ORACLE_SQL = f"""
WITH RECURSIVE {EDGES_CTE.strip()},
{SYM_CTE.strip()},
{VERTS_CTE.strip()},
reach(id, label) AS (
    SELECT id, id FROM verts
    UNION
    SELECT s.dst, r.label FROM reach r JOIN sym s ON s.src = r.id
)
SELECT id, MIN(label) AS component FROM reach GROUP BY id
"""


# ---------------------------------------------------------------------------
# the query registry
# ---------------------------------------------------------------------------

QueryFn = Callable[[SparkSession, str], DataFrame]


def build_queries() -> dict[str, QueryFn]:
    q: dict[str, QueryFn] = {}

    # -- 1. scans / edge derivation (SURVEY §2.1) --------------------------
    q["graph_edges"] = lambda s, d: _edges(s, d)
    q["graph_degrees"] = lambda s, d: gt.degrees(_edges(s, d))

    def web_host_graph(s, d):
        """Domain-level link-graph rollup: synthesize a deterministic
        links(src_url, dst_url) table from lineitem (supplier-host
        pages linking part-host items), then aggregate cross-host
        pairs with link + distinct-page counts."""
        from gminer_spark.graph.tables import load_table
        from gminer_spark.web.edges import host_graph

        li = load_table(s, d, "lineitem")
        links = li.select(
            F.concat(
                F.lit("https://s"),
                (F.col("l_suppkey") % 101).cast("string"),
                F.lit(".example.com/page/"),
                F.col("l_orderkey").cast("string"),
            ).alias("src_url"),
            F.concat(
                F.lit("https://p"),
                (F.col("l_partkey") % 137).cast("string"),
                F.lit(".example.com/item/"),
                F.col("l_partkey").cast("string"),
            ).alias("dst_url"),
        )
        return host_graph(links)

    q["web_host_graph"] = web_host_graph

    def web_anchor_stats(s, d):
        """Per-target anchor-text rollup: synthesize a deterministic
        anchors(src_url, dst_url, anchor) table from lineitem (anchor
        text keyed off the part), then aggregate per dst_url with a
        total-order top-anchor tie-break."""
        from gminer_spark.graph.tables import load_table
        from gminer_spark.web.edges import anchor_stats

        li = load_table(s, d, "lineitem")
        anchors = li.select(
            F.concat(
                F.lit("https://s"),
                (F.col("l_suppkey") % 101).cast("string"),
                F.lit(".example.com/page/"),
                F.col("l_orderkey").cast("string"),
            ).alias("src_url"),
            F.concat(
                F.lit("https://p"),
                (F.col("l_partkey") % 137).cast("string"),
                F.lit(".example.com/item/"),
                F.col("l_partkey").cast("string"),
            ).alias("dst_url"),
            F.concat(
                F.lit("buy part "), (F.col("l_partkey") % 7).cast("string")
            ).alias("anchor"),
        )
        return anchor_stats(anchors)

    q["web_anchor_stats"] = web_anchor_stats

    def host_pagerank(s, d):
        """Domain-level weighted PageRank — the host-authority signal
        run after the host-graph rollup (page graph is O(trillions) at
        100 TB, host graph O(millions), so rank at host grain first).
        Synthesizes a two-direction links table (supplier pages → part
        items, plus back-links for every third lineitem), rolls up to
        weighted host edges, hashes hosts to h32 ids, and runs the
        value-green weighted PageRank engine; host strings joined back
        at the end."""
        from gminer_spark.graph.pagerank import pagerank
        from gminer_spark.graph.tables import load_table
        from gminer_spark.web.edges import host_graph

        li = load_table(s, d, "lineitem")
        s_page = F.concat(
            F.lit("https://s"),
            (F.col("l_suppkey") % 101).cast("string"),
            F.lit(".example.com/page/"),
            F.col("l_orderkey").cast("string"),
        )
        p_item = F.concat(
            F.lit("https://p"),
            (F.col("l_partkey") % 137).cast("string"),
            F.lit(".example.com/item/"),
            F.col("l_partkey").cast("string"),
        )
        links = li.select(
            s_page.alias("src_url"), p_item.alias("dst_url")
        ).unionByName(
            li.where(F.col("l_linenumber") % 3 == 0).select(
                p_item.alias("src_url"), s_page.alias("dst_url")
            )
        )
        hg = host_graph(links)
        hedges = hg.select(
            h32_spark(F.col("src_host")).alias("src"),
            h32_spark(F.col("dst_host")).alias("dst"),
            F.col("n_links").cast("double").alias("w"),
        )
        hosts = (
            hg.select(F.col("src_host").alias("host"))
            .unionByName(hg.select(F.col("dst_host").alias("host")))
            .distinct()
        )
        res = pagerank(hedges, num_iter=PR_ITERS, weight_col="w")
        return res.state.join(
            hosts.select(h32_spark(F.col("host")).alias("id"), "host"),
            on="id",
        ).select(
            "host",
            F.round(F.col("rank") * 1e6, 0).cast("long").alias("rank_micro"),
        )

    q["host_pagerank"] = host_pagerank

    def redirect_resolution(s, d):
        """Redirect-chain resolution (crawl url normalization):
        synthesize deterministic variable-depth chains from orders
        (per order, urls r/<key>/0 → … → r/<key>/L with
        L = h32(key) % 7 + 1), then resolve every source to its
        terminal target by pointer doubling — ⌈log₂ depth⌉ rounds."""
        from gminer_spark.graph.tables import load_table
        from gminer_spark.web.edges import resolve_redirects

        ords = load_table(s, d, "orders").select("o_orderkey")
        n = (
            h32_spark(F.concat_ws(":", F.lit("chain"), F.col("o_orderkey")))
            % 7
        )
        chain = ords.select(
            "o_orderkey", F.explode(F.sequence(F.lit(0), n)).alias("i")
        )
        redirects = chain.select(
            F.concat(
                F.lit("https://r.example.com/"),
                F.col("o_orderkey").cast("string"),
                F.lit("/"),
                F.col("i").cast("string"),
            ).alias("src_url"),
            F.concat(
                F.lit("https://r.example.com/"),
                F.col("o_orderkey").cast("string"),
                F.lit("/"),
                (F.col("i") + 1).cast("string"),
            ).alias("dst_url"),
        )
        return resolve_redirects(redirects)

    q["redirect_resolution"] = redirect_resolution

    def mirror_hosts_q(s, d):
        """Mirror-host detection over the documents table: every doc
        lives on host h<k> (k = h32(doc_id) % 17); every third doc is
        also mirrored onto m<k> — so (h<k>, m<k>) pairs share ~1/3 of
        their page fingerprints and clear the 0.1 Jaccard floor."""
        from gminer_spark.graph.tables import load_table
        from gminer_spark.web.mirrors import mirror_hosts

        docs = load_table(s, d, "documents")
        k = (h32_spark(F.col("doc_id").cast("string")) % 17).cast("string")
        base = docs.select(
            F.concat(F.lit("h"), k).alias("host"),
            h32_spark(F.col("text")).alias("fp"),
        )
        mirrored = docs.where(
            h32_spark(F.concat(F.lit("m:"), F.col("doc_id").cast("string")))
            % 3
            == 0
        ).select(
            F.concat(F.lit("m"), k).alias("host"),
            h32_spark(F.col("text")).alias("fp"),
        )
        return mirror_hosts(
            base.unionByName(mirrored), min_jaccard=0.1, max_df=1000
        )

    q["mirror_hosts"] = mirror_hosts_q

    def crawl_frontier_q(s, d):
        """Discovery-frontier scoring: supplier pages link to part
        items (the host_pagerank synthetic link table, forward
        direction); the crawled set is every supplier page plus the
        part items with partkey % 4 == 0 — the frontier is the
        remaining part items ranked by in-link evidence."""
        from gminer_spark.graph.tables import load_table
        from gminer_spark.web.edges import crawl_frontier

        li = load_table(s, d, "lineitem")
        s_page = F.concat(
            F.lit("https://s"),
            (F.col("l_suppkey") % 101).cast("string"),
            F.lit(".example.com/page/"),
            F.col("l_orderkey").cast("string"),
        )
        p_item = F.concat(
            F.lit("https://p"),
            (F.col("l_partkey") % 137).cast("string"),
            F.lit(".example.com/item/"),
            F.col("l_partkey").cast("string"),
        )
        links = li.select(
            s_page.alias("src_url"), p_item.alias("dst_url")
        )
        crawled = li.select(s_page.alias("url")).unionByName(
            li.where(F.col("l_partkey") % 4 == 0).select(p_item.alias("url"))
        )
        return crawl_frontier(links, crawled)

    q["crawl_frontier"] = crawl_frontier_q

    def _directed_edges(s, d):
        """Directed bipartite-ish graph for the structure statistics:
        supplier node → part node for every lineitem, plus the reverse
        edge for every third line — so reciprocity is ~1/3, not the
        degenerate 0 of the src<dst copurchase table."""
        from gminer_spark.graph.tables import load_table

        li = load_table(s, d, "lineitem")
        sn = (F.lit(100000) + F.col("l_suppkey") % 101).cast("long")
        pn = (F.lit(200000) + F.col("l_partkey") % 137).cast("long")
        return li.select(sn.alias("src"), pn.alias("dst")).unionByName(
            li.where(F.col("l_linenumber") % 3 == 0).select(
                pn.alias("src"), sn.alias("dst")
            )
        )

    def edge_reciprocity(s, d):
        """Fraction of distinct directed edges whose reverse exists."""
        from gminer_spark.graph.structure import reciprocity

        return reciprocity(_directed_edges(s, d))

    q["edge_reciprocity"] = edge_reciprocity

    def directed_assortativity(s, d):
        """Directed out-in degree assortativity (Pearson of out_deg(src)
        vs in_deg(dst) over directed edges — the web-graph variant;
        the existing ``degree_assortativity`` query is the undirected
        Newman statistic over the sym copurchase graph)."""
        from gminer_spark.graph.structure import degree_assortativity

        return degree_assortativity(_directed_edges(s, d))

    q["directed_assortativity"] = directed_assortativity

    def anf_neighborhood(s, d):
        """ANF / HyperBall neighborhood function N(r), r = 0..4, over
        the sym copurchase graph — per-vertex HLL register sketches
        grown one radius per round (one join + one max-agg), the scale
        path for distance statistics where all-pairs BFS is
        impossible.  Register arithmetic is integer-exact; per-vertex
        estimates micro-round before the global BIGINT sum."""
        from gminer_spark.graph.anf import neighborhood_function

        return neighborhood_function(_edges(s, d), radius=4)

    q["anf_neighborhood"] = anf_neighborhood

    def effective_diameter(s, d):
        """90%-effective diameter read off the ANF table (linear
        interpolation between the bracketing radii), micro-int."""
        from gminer_spark.graph.anf import (
            effective_diameter_micro,
            neighborhood_function,
        )

        return effective_diameter_micro(
            neighborhood_function(_edges(s, d), radius=4), q=0.9
        )

    q["effective_diameter"] = effective_diameter

    def ball_sizes_q(s, d):
        """Per-vertex HyperBall readout: estimated 2-hop neighborhood
        size for every vertex — a structural graph-ML feature no exact
        method can compute at web scale."""
        from gminer_spark.graph.anf import ball_sizes

        return ball_sizes(_edges(s, d), radius=2)

    q["ball_sizes"] = ball_sizes_q

    def frontier_admission(s, d):
        """Incremental crawl frontier through 3 maintainer batches
        (lineitem split by l_linenumber: 1-2 / 3-4 / 5+) — final state
        must equal the one-shot batch operator over the concatenated
        inputs (frontier maintenance is arrival-order independent),
        which is exactly what the oracle computes."""
        from gminer_spark.graph.tables import load_table
        from gminer_spark.web.edges import FrontierMaintainer

        li = load_table(s, d, "lineitem")
        s_page = F.concat(
            F.lit("https://s"),
            (F.col("l_suppkey") % 101).cast("string"),
            F.lit(".example.com/page/"),
            F.col("l_orderkey").cast("string"),
        )
        p_item = F.concat(
            F.lit("https://p"),
            (F.col("l_partkey") % 137).cast("string"),
            F.lit(".example.com/item/"),
            F.col("l_partkey").cast("string"),
        )
        fm = FrontierMaintainer()
        for lo, hi in ((1, 2), (3, 4), (5, 99)):
            sl = li.where(F.col("l_linenumber").between(lo, hi))
            links = sl.select(
                s_page.alias("src_url"), p_item.alias("dst_url")
            )
            crawled = sl.select(s_page.alias("url")).unionByName(
                sl.where(F.col("l_partkey") % 4 == 0).select(
                    p_item.alias("url")
                )
            )
            fm.update(links, crawled)
        return fm.frontier

    q["frontier_admission"] = frontier_admission

    def robots_allowed(s, d):
        """Robots-rules gate over the synthetic url space: 25 per-host
        disallow rules from nation (every third a narrower '/item/1'
        prefix, the rest '/item/' = the whole item tree), applied to
        the supplier-page + part-item url table."""
        from gminer_spark.graph.tables import load_table
        from gminer_spark.web.edges import robots_filter

        li = load_table(s, d, "lineitem")
        s_page = F.concat(
            F.lit("https://s"),
            (F.col("l_suppkey") % 101).cast("string"),
            F.lit(".example.com/page/"),
            F.col("l_orderkey").cast("string"),
        )
        p_item = F.concat(
            F.lit("https://p"),
            (F.col("l_partkey") % 137).cast("string"),
            F.lit(".example.com/item/"),
            F.col("l_partkey").cast("string"),
        )
        urls = (
            li.select(s_page.alias("url"))
            .unionByName(li.select(p_item.alias("url")))
            .distinct()
        )
        na = load_table(s, d, "nation")
        rules = na.select(
            F.concat(
                F.lit("p"),
                (F.col("n_nationkey") * 5 % 137).cast("string"),
                F.lit(".example.com"),
            ).alias("host"),
            F.when(F.col("n_nationkey") % 3 == 0, F.lit("/item/1"))
            .otherwise(F.lit("/item/"))
            .alias("disallow_prefix"),
        )
        return robots_filter(urls, rules)

    q["robots_allowed"] = robots_allowed

    # -- 2. triangle counting (SURVEY §2.10 TC) ----------------------------
    def tc_global(s, d):
        from gminer_spark.graph.triangles import _wedge_closed

        return _wedge_closed(_edges(s, d), "degree").agg(
            F.count("*").alias("triangles")
        )

    q["tc_global"] = tc_global

    def tc_per_vertex(s, d):
        from gminer_spark.graph.triangles import triangles_per_vertex

        return triangles_per_vertex(_edges(s, d))

    q["tc_per_vertex"] = tc_per_vertex

    # -- 3. iterative algorithms (SURVEY §2.8/§2.10) -----------------------
    def pagerank_micro(s, d):
        from gminer_spark.graph.pagerank import pagerank

        res = pagerank(_edges(s, d), num_iter=PR_ITERS)
        return res.state.select(
            "id", F.round(F.col("rank") * 1e6, 0).cast("long").alias("rank_micro")
        )

    q["pagerank_micro"] = pagerank_micro

    def pagerank_weighted_micro(s, d):
        """Weighted PageRank: contribution ∝ shared-order count."""
        from gminer_spark.graph.pagerank import pagerank

        res = pagerank(
            gt.copurchase_weighted_edges(s, d), num_iter=PR_ITERS, weight_col="w"
        )
        return res.state.select(
            "id", F.round(F.col("rank") * 1e6, 0).cast("long").alias("rank_micro")
        )

    q["pagerank_weighted_micro"] = pagerank_weighted_micro

    def ppr_micro(s, d):
        """Personalized PageRank from a deterministic seed set
        (id % PPR_SEED_MOD == 0): teleport + dangling mass return to
        the seeds only."""
        from gminer_spark.graph.pagerank import pagerank

        e = _edges(s, d)
        seeds = gt.vertices(e).where(F.col("id") % PPR_SEED_MOD == 0)
        res = pagerank(e, num_iter=PR_ITERS, reset=seeds)
        return res.state.select(
            "id", F.round(F.col("rank") * 1e6, 0).cast("long").alias("rank_micro")
        )

    q["ppr_micro"] = ppr_micro

    def spam_mass(s, d):
        """TrustRank spam mass (Gyöngyi et al. 2004): global PageRank
        and trusted-seed PPR over the SAME edges, then
        ``(pr - trust) / pr`` per vertex — high mass ⇒ rank earned
        without trusted provenance.  Both chains are the already
        value-green engines; one co-partitioned id join at the end."""
        from gminer_spark.graph.pagerank import pagerank

        e = _edges(s, d)
        pr = pagerank(e, num_iter=PR_ITERS).state.select(
            "id", F.col("rank").alias("pr")
        )
        seeds = gt.vertices(e).where(F.col("id") % PPR_SEED_MOD == 0)
        tr = pagerank(e, num_iter=PR_ITERS, reset=seeds).state.select(
            "id", F.col("rank").alias("trust")
        )
        return pr.join(tr, on="id").select(
            "id",
            F.round(F.col("pr") * 1e6, 0).cast("long").alias("pr_micro"),
            F.round(F.col("trust") * 1e6, 0).cast("long").alias("trust_micro"),
            F.round((F.col("pr") - F.col("trust")) / F.col("pr") * 1e6, 0)
            .cast("long")
            .alias("spam_mass_micro"),
        )

    q["spam_mass"] = spam_mass

    def ppr_batch_micro(s, d):
        """BATCHED personalized PageRank: one rank vector PER seed
        (state keyed (s, id), reached pairs only) — the
        recommendation primitive, all seeds in one plan."""
        from gminer_spark.graph.pagerank import ppr_batch

        e = _edges(s, d)
        seeds = gt.vertices(e).where(F.col("id") % 499 == 0)
        res = ppr_batch(e, seeds, num_iter=PR_ITERS)
        return res.select(
            "s",
            "id",
            F.round(F.col("rank") * 1e6, 0).cast("long").alias("rank_micro"),
        )

    q["ppr_batch_micro"] = ppr_batch_micro

    def ppr_topk(s, d):
        """Per-seed top-5 recommendations off the batched PPR vectors
        (self excluded; total-order tie-break rank desc, id asc)."""
        from pyspark.sql import Window

        from gminer_spark.graph.pagerank import ppr_batch

        e = _edges(s, d)
        seeds = gt.vertices(e).where(F.col("id") % 499 == 0)
        res = ppr_batch(e, seeds, num_iter=PR_ITERS).where(
            F.col("s") != F.col("id")
        )
        scored = res.select(
            "s",
            "id",
            F.round(F.col("rank") * 1e6, 0).cast("long").alias("rank_micro"),
        )
        w = Window.partitionBy("s").orderBy(
            F.col("rank_micro").desc(), F.col("id").asc()
        )
        return (
            scored.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 5)
            .select("s", "id", "rank_micro", F.col("rk").cast("long").alias("rk"))
        )

    q["ppr_topk"] = ppr_topk

    def cc_components(s, d):
        from gminer_spark.graph.cc import connected_components

        return connected_components(_edges(s, d)).state

    q["cc_components"] = cc_components

    def cc_incremental(s, d):
        """Streaming CC maintenance under the correctness gate: edges
        split into two deterministic halves, full hash-min on half A,
        half B folded in with incremental_cc (component-contracted
        merge graph + one relabel join — no full-graph iteration).
        Must be bit-identical to a full recompute, so it shares the
        recursive-CTE oracle with cc_components."""
        from gminer_spark.graph.cc import connected_components, incremental_cc

        e = _edges(s, d)
        a = e.where((F.col("src") + F.col("dst")) % 2 == 0)
        b = e.where((F.col("src") + F.col("dst")) % 2 == 1)
        base = connected_components(a).state
        return incremental_cc(base, b)

    q["cc_incremental"] = cc_incremental

    def lpa_labels(s, d):
        from gminer_spark.graph.lpa import label_propagation

        return label_propagation(_edges(s, d), num_iter=LPA_ITERS).state

    q["lpa_labels"] = lpa_labels

    def lpa_weighted_labels(s, d):
        """Weighted sync LPA: each neighbor votes with the shared-order
        count; integer weight sums keep the mode exact."""
        from gminer_spark.graph.lpa import label_propagation

        return label_propagation(
            gt.copurchase_weighted_edges(s, d),
            num_iter=LPA_ITERS,
            weight_col="w",
        ).state

    q["lpa_weighted_labels"] = lpa_weighted_labels

    def kcore(s, d):
        """k-core by iterative degree peeling (the reference's degree
        seed-filters, e.g. trianglecount.cpp:139-140, run to fixpoint).
        k=80 actually peels at sf0.01 (5 rounds, 2000 -> 1857);
        KCORE_ITERS caps both engine and oracle — peeling is idempotent
        past the fixpoint, so the capped runs agree exactly."""
        from gminer_spark.graph.kcore import k_core

        return k_core(_edges(s, d), k=KCORE_K, max_iter=KCORE_ITERS)

    q["kcore"] = kcore

    def sssp_hops(s, d):
        """Multi-source BFS hop distance (Bellman-Ford supersteps with
        unit weights, min-combiner messages + vote-to-halt frontier);
        sources = id % PPR_SEED_MOD == 0.  Reached vertices only."""
        from gminer_spark.graph.sssp import shortest_paths

        e = _edges(s, d)
        srcs = gt.vertices(e).where(F.col("id") % PPR_SEED_MOD == 0)
        return shortest_paths(e, srcs, max_iter=SSSP_ITERS).state

    q["sssp_hops"] = sssp_hops

    def sssp_weighted(s, d):
        """Weighted shortest paths: edge cost = shared-order count
        (integer weights — bit-identical distances across engines)."""
        from gminer_spark.graph.sssp import shortest_paths

        we = gt.copurchase_weighted_edges(s, d)
        srcs = gt.vertices(we).where(F.col("id") % PPR_SEED_MOD == 0)
        return shortest_paths(we, srcs, weight_col="w", max_iter=SSSP_ITERS).state

    q["sssp_weighted"] = sssp_weighted

    def betweenness(s, d):
        """Sampled-source Brandes betweenness: all sources BFS
        simultaneously (state keyed (s, v)), then level-by-level
        dependency accumulation.  Micro-rounded like PageRank."""
        from gminer_spark.graph.betweenness import betweenness_sampled

        e = _edges(s, d)
        srcs = gt.vertices(e).where(F.col("id") % BC_SEED_MOD == 0)
        res = betweenness_sampled(e, srcs, max_depth=BC_DEPTH)
        return res.select(
            "id", F.round(F.col("bc") * 1e6, 0).cast("long").alias("bc_micro")
        )

    q["betweenness"] = betweenness

    def edge_betweenness(s, d):
        """Sampled-source EDGE betweenness (Girvan-Newman score) over
        the same simultaneous multi-source BFS — per-edge Brandes
        dependencies, canonical (src < dst), micro-rounded."""
        from gminer_spark.graph.betweenness import edge_betweenness_sampled

        e = _edges(s, d)
        srcs = gt.vertices(e).where(F.col("id") % BC_SEED_MOD == 0)
        return edge_betweenness_sampled(e, srcs, max_depth=BC_DEPTH)

    q["edge_betweenness"] = edge_betweenness

    def harmonic(s, d):
        """Sampled harmonic centrality: Σ 1/dist over the same
        simultaneous multi-source BFS as betweenness."""
        from gminer_spark.graph.betweenness import harmonic_sampled

        e = _edges(s, d)
        srcs = gt.vertices(e).where(F.col("id") % BC_SEED_MOD == 0)
        res = harmonic_sampled(e, srcs, max_depth=BC_DEPTH)
        return res.select(
            "id",
            F.round(F.col("harmonic") * 1e6, 0).cast("long").alias("harmonic_micro"),
        )

    q["harmonic"] = harmonic

    def closeness(s, d):
        """Sampled closeness: n_reached / exact-integer distance sum
        over the shared multi-source BFS (single final division)."""
        from gminer_spark.graph.betweenness import closeness_sampled

        e = _edges(s, d)
        srcs = gt.vertices(e).where(F.col("id") % BC_SEED_MOD == 0)
        return closeness_sampled(e, srcs, max_depth=BC_DEPTH)

    q["closeness"] = closeness

    def eccentricity(s, d):
        """Per-sampled-source eccentricity (max BFS level) — the
        sampled diameter lower bound, over the shared multi-source
        BFS."""
        from gminer_spark.graph.betweenness import eccentricity_sampled

        e = _edges(s, d)
        srcs = gt.vertices(e).where(F.col("id") % BC_SEED_MOD == 0)
        return eccentricity_sampled(e, srcs, max_depth=BC_DEPTH)

    q["eccentricity"] = eccentricity

    def distance_histogram(s, d):
        """Sampled BFS distance distribution (effective-diameter
        input) over the same shared multi-source BFS."""
        from gminer_spark.graph.betweenness import distance_histogram as dh

        e = _edges(s, d)
        srcs = gt.vertices(e).where(F.col("id") % BC_SEED_MOD == 0)
        return dh(e, srcs, max_depth=BC_DEPTH)

    q["distance_histogram"] = distance_histogram

    def landmark_distances(s, d):
        """Landmark distance sketch: per-vertex BFS hop distance to
        the top-LM_K degree hubs, all landmarks in ONE simultaneous
        (s, v)-keyed level BFS — the precomputed distance oracle for
        point-to-point queries at crawl scale."""
        from gminer_spark.graph.landmarks import landmark_sketch

        return landmark_sketch(_edges(s, d), k=LM_K, max_depth=LM_DEPTH)

    q["landmark_distances"] = landmark_distances

    def landmark_dist_estimates(s, d):
        """Pair distance upper bounds min_l d(u,l)+d(l,v) from the
        landmark sketch — two hash joins + min-combine per query
        batch, no per-query BFS."""
        from gminer_spark.graph.landmarks import (
            estimate_distances,
            landmark_sketch,
        )

        e = _edges(s, d)
        sk = landmark_sketch(e, k=LM_K, max_depth=LM_DEPTH)
        v = gt.vertices(e)
        us = v.where(F.col("id") % LM_U_MOD == 0).select(F.col("id").alias("u"))
        vs = v.where(F.col("id") % LM_V_MOD == 1).select(F.col("id").alias("v"))
        pairs = us.join(vs, us.u < vs.v)
        return estimate_distances(sk, pairs)

    q["landmark_dist_estimates"] = landmark_dist_estimates

    def link_features(s, d):
        """Per-edge link-prediction features: common neighbors,
        Jaccard, resource allocation (integer-exact / micro-rounded;
        RA chosen over Adamic-Adar to avoid cross-engine ln drift)."""
        from gminer_spark.graph.linkpred import link_features as lf

        return lf(_edges(s, d))

    q["link_features"] = link_features

    def cocitation(s, d):
        """Top-k co-cited pairs (shared in-neighbor count + in-degree
        Jaccard): the classic link-based relatedness measure; wedge
        self-join with a hub-center degree cap (the max_df cut)."""
        from gminer_spark.graph.cocitation import cocitation_topk

        return cocitation_topk(
            _edges(s, d), top_k=COCIT_TOPK, max_center_deg=COCIT_MAXDEG
        )

    q["cocitation"] = cocitation

    def coupling(s, d):
        """Top-k bibliographically-coupled pairs (shared out-neighbor
        count + out-degree Jaccard) — the dual of co-citation."""
        from gminer_spark.graph.cocitation import coupling_topk

        return coupling_topk(
            _edges(s, d), top_k=COCIT_TOPK, max_center_deg=COCIT_MAXDEG
        )

    q["coupling"] = coupling

    def graph_coloring(s, d):
        """Jones-Plassmann greedy coloring over the h32-sampled sparse
        subgraph (the dense copurchase graph degenerates JP to
        sequential; coloring's use case — scheduling / conflict graphs
        — is sparse).  Unique under the md5 priority order."""
        from gminer_spark.graph.coloring import greedy_coloring

        e = _edges(s, d)
        sub = e.where(
            h32_spark(
                F.concat_ws(":", F.lit("colsub"), F.col("src"), F.col("dst"))
            )
            % COLOR_SUB_MOD
            == 0
        )
        return greedy_coloring(sub)

    q["graph_coloring"] = graph_coloring

    def maximal_matching(s, d):
        """Parallel greedy maximal matching (md5 edge priorities) over
        the same h32-sampled sparse subgraph as coloring — pairs
        near-duplicate pages one-to-one (mirror canonicalization)."""
        from gminer_spark.graph.matching import maximal_matching as mm

        e = _edges(s, d)
        sub = e.where(
            h32_spark(
                F.concat_ws(":", F.lit("colsub"), F.col("src"), F.col("dst"))
            )
            % COLOR_SUB_MOD
            == 0
        )
        return mm(sub)

    q["maximal_matching"] = maximal_matching

    def _snapshot_edges(s, d):
        li = gt.load_table(s, d, "lineitem").select("l_orderkey", "l_partkey")
        old_orders = (
            gt.load_table(s, d, "orders")
            .where(F.col("o_orderdate") < SNAP_CUTOFF)
            .select(F.col("o_orderkey").alias("l_orderkey"))
        )
        li_old = li.join(old_orders, on="l_orderkey", how="leftsemi")
        a, b = li_old.alias("a"), li_old.alias("b")
        old = (
            a.join(b, on="l_orderkey")
            .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
            .select(
                F.col("a.l_partkey").cast("long").alias("src"),
                F.col("b.l_partkey").cast("long").alias("dst"),
            )
            .distinct()
        )
        return old, _edges(s, d)

    def snapshot_diff(s, d):
        """Edge churn between two crawl snapshots (orders before the
        cutoff date vs all): full-outer on the canonical edge key,
        output bounded by the churn, tagged added/removed."""
        from gminer_spark.graph.snapshot import snapshot_diff as sd

        old, new = _snapshot_edges(s, d)
        return sd(old, new)

    q["snapshot_diff"] = snapshot_diff

    def snapshot_degree_delta(s, d):
        """Per-vertex degree movement between the same two snapshots
        (recrawl-scheduling / burst-detection input)."""
        from gminer_spark.graph.snapshot import degree_delta

        old, new = _snapshot_edges(s, d)
        return degree_delta(old, new)

    q["snapshot_degree_delta"] = snapshot_degree_delta

    def hub_robustness(s, d):
        """Component-size histogram after removing the top-20 degree
        hubs — the targeted-attack robustness probe (rides the
        standard hash-min CC).  Runs on the h32-sampled sparse
        subgraph: the dense copurchase graph is one giant component
        with or without its hubs (a 1-row non-answer), while the
        sparse view actually shatters (mod-32 sample, 40 hubs:
        giant component survives, fringe fragments break off)."""
        from gminer_spark.graph.snapshot import hub_removal_robustness

        e = _edges(s, d)
        sub = e.where(
            h32_spark(
                F.concat_ws(":", F.lit("colsub"), F.col("src"), F.col("dst"))
            )
            % 32
            == 0
        )
        return hub_removal_robustness(sub, k_hubs=40)

    q["hub_robustness"] = hub_robustness

    def butterflies(s, d):
        """Per-order butterfly (K2,2) counts on the order-part
        bipartite incidence — the bipartite triangle analog; wedge
        join on the part side with a right-hub cap."""
        from gminer_spark.graph.butterflies import butterfly_counts

        li = gt.load_table(s, d, "lineitem")
        incid = li.select(
            F.col("l_orderkey").cast("long").alias("left"),
            F.col("l_partkey").cast("long").alias("right"),
        )
        return butterfly_counts(incid, max_right_deg=BFLY_MAXDEG)

    q["butterflies"] = butterflies

    def bitruss2(s, d):
        """(2,2)-bitruss of the order-part incidence: iterated
        support peel over the SAME capped butterfly wedge join — the
        bipartite k-truss analog (r4 verdict stretch #10).  max_iter
        pinned to the oracle's unroll depth (fixpoint at sf0.01
        measured lower; idempotent past it, so stopping there gives
        the unrolled rows)."""
        from gminer_spark.graph.butterflies import bitruss

        li = gt.load_table(s, d, "lineitem")
        incid = li.select(
            F.col("l_orderkey").cast("long").alias("left"),
            F.col("l_partkey").cast("long").alias("right"),
        )
        return bitruss(
            incid, k=2, max_right_deg=BFLY_MAXDEG, max_iter=BITRUSS_ITERS
        )

    q["bitruss2"] = bitruss2

    def truss_decomposition(s, d):
        """Per-edge trussness (full truss hierarchy) via the local
        h-index fixpoint over a ONE-TIME triangle enumeration — no
        per-k re-peeling; h32 half-graph sample (full graph ~4x)."""
        from gminer_spark.graph.trussness import trussness

        e = _edges(s, d)
        sub = e.where(
            h32_spark(
                F.concat_ws(":", F.lit("trsub"), F.col("src"), F.col("dst"))
            )
            % TRUSS_SUB_MOD
            == 0
        )
        return trussness(sub, num_iter=None, max_iter=TRUSS_ITERS)

    q["truss_decomposition"] = truss_decomposition

    def k4_per_vertex(s, d):
        """Per-vertex 4-clique participation over the same h32
        half-graph sample as trussness — two joins of the canonical
        triangle table on its base edge + one closing semi-join."""
        from gminer_spark.graph.cliques4 import k4_counts

        e = _edges(s, d)
        sub = e.where(
            h32_spark(
                F.concat_ws(":", F.lit("trsub"), F.col("src"), F.col("dst"))
            )
            % TRUSS_SUB_MOD
            == 0
        )
        return k4_counts(sub)

    q["k4_per_vertex"] = k4_per_vertex

    def hits_micro(s, d):
        """HITS hubs & authorities, 10 L1-normalized iterations —
        the second classic link-analysis fixpoint next to PageRank."""
        from gminer_spark.graph.hits import hits

        res = hits(_edges(s, d), num_iter=10)
        return res.select(
            "id",
            F.round(F.col("hub") * 1e6, 0).cast("long").alias("hub_micro"),
            F.round(F.col("auth") * 1e6, 0).cast("long").alias("auth_micro"),
        )

    q["hits_micro"] = hits_micro

    def salsa_micro(s, d):
        """SALSA hubs & authorities: degree-normalized HITS (the
        stochastic mutual-reinforcement walk, robust to the
        tightly-knit-community effect), 10 L1-normalized iterations."""
        from gminer_spark.graph.salsa import salsa

        res = salsa(_edges(s, d), num_iter=10)
        return res.select(
            "id",
            F.round(F.col("hub") * 1e6, 0).cast("long").alias("hub_micro"),
            F.round(F.col("auth") * 1e6, 0).cast("long").alias("auth_micro"),
        )

    q["salsa_micro"] = salsa_micro

    def hitting_time_micro(s, d):
        """Truncated expected hitting time (Sarkar-Moore) to the
        deterministic seed set — the random-walk proximity feature;
        exact micro-int value iteration, horizon 6."""
        from gminer_spark.graph.hitting import hitting_time

        e = _edges(s, d)
        targets = gt.vertices(e).where(F.col("id") % PPR_SEED_MOD == 0)
        return hitting_time(e, targets, horizon=6)

    q["hitting_time_micro"] = hitting_time_micro

    def katz_micro(s, d):
        """Truncated Katz centrality (attenuated path counts,
        alpha=1/64 dyadic, horizon 6) — exact-BIGINT rounds, the
        PageRank-complementary link-quality feature."""
        from gminer_spark.graph.katz import katz

        return katz(_edges(s, d), horizon=6)

    q["katz_micro"] = katz_micro

    def community_quality(s, d):
        """Per-community modularity terms + conductance over the
        3-round LPA labeling: the partition-quality scoreboard
        (which communities are actually separated)."""
        from gminer_spark.graph.community_metrics import community_quality
        from gminer_spark.graph.lpa import label_propagation

        e = _edges(s, d)
        labels = label_propagation(e, num_iter=LPA_ITERS).state
        return community_quality(gt.symmetrize(e), labels)

    q["community_quality"] = community_quality

    def linkpred_auc(s, d):
        """Exact Mann-Whitney AUC of the common-neighbor predictor
        under a deterministic h32 hold-out split (hard distance-2
        negatives) over the h32-sampled sparse subgraph — the eval
        loop on the link_features family."""
        from gminer_spark.graph.linkpred import linkpred_auc as lpa

        e = _edges(s, d)
        sub = e.where(
            h32_spark(
                F.concat_ws(":", F.lit("colsub"), F.col("src"), F.col("dst"))
            )
            % COLOR_SUB_MOD
            == 0
        )
        return lpa(sub, test_mod=5)

    q["linkpred_auc"] = linkpred_auc

    def temporal_reachability(s, d):
        """Earliest-arrival (time-respecting) reachability from the
        deterministic seed set over order-date-stamped copurchase
        edges — the diffusion primitive static reachability
        over-counts (it follows edges backwards in time)."""
        from gminer_spark.graph.temporal import earliest_arrival

        li = gt.load_table(s, d, "lineitem").select("l_orderkey", "l_partkey")
        od = gt.load_table(s, d, "orders").select(
            F.col("o_orderkey").alias("l_orderkey"),
            F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
            .cast("long")
            .alias("t"),
        )
        lit = li.join(od, on="l_orderkey")
        a, b = lit.alias("a"), lit.alias("b")
        tedges = (
            a.join(b, on="l_orderkey")
            .where(F.col("a.l_partkey") != F.col("b.l_partkey"))
            .select(
                F.col("a.l_partkey").cast("long").alias("src"),
                F.col("b.l_partkey").cast("long").alias("dst"),
                F.col("a.t").alias("t"),
            )
        )
        sources = (
            tedges.select(F.col("src").alias("id"))
            .distinct()
            .where(F.col("id") % PPR_SEED_MOD == 0)
        )
        return earliest_arrival(tedges, sources, num_iter=4)

    q["temporal_reachability"] = temporal_reachability

    def temporal_departure(s, d):
        """Latest-departure dual (deadline day 11000 — past the data
        range): latest time each part could 'leave' and still reach a
        seed target time-respectingly — exact time reversal reusing
        the value-green earliest-arrival engine."""
        from gminer_spark.graph.temporal import latest_departure

        li = gt.load_table(s, d, "lineitem").select("l_orderkey", "l_partkey")
        od = gt.load_table(s, d, "orders").select(
            F.col("o_orderkey").alias("l_orderkey"),
            F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
            .cast("long")
            .alias("t"),
        )
        lit = li.join(od, on="l_orderkey")
        a, b = lit.alias("a"), lit.alias("b")
        tedges = (
            a.join(b, on="l_orderkey")
            .where(F.col("a.l_partkey") != F.col("b.l_partkey"))
            .select(
                F.col("a.l_partkey").cast("long").alias("src"),
                F.col("b.l_partkey").cast("long").alias("dst"),
                F.col("a.t").alias("t"),
            )
        )
        targets = (
            tedges.select(F.col("src").alias("id"))
            .distinct()
            .where(F.col("id") % PPR_SEED_MOD == 0)
        )
        return latest_departure(tedges, targets, deadline=11_000, num_iter=4)

    q["temporal_departure"] = temporal_departure

    def pii_scan(s, d):
        """PII detection + redaction fingerprints: the synthetic
        corpus is clean, so a deterministic doc_id-derived subset is
        enriched with emails/phones/IPs (same derivation in the
        oracle) and the scan must find exactly those and hash the
        scrubbed text identically."""
        from gminer_spark.textops.pii import pii_scan as ps

        docs = _doc(s, d, "documents").select("doc_id", "text")
        enriched = docs.select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.when(
                    F.col("doc_id") % 5 == 0,
                    F.concat(
                        F.lit(" contact user"),
                        F.col("doc_id").cast("string"),
                        F.lit("@example.com"),
                    ),
                ).otherwise(F.lit("")),
                F.when(
                    F.col("doc_id") % 7 == 0, F.lit(" call 555-867-5309")
                ).otherwise(F.lit("")),
                F.when(
                    F.col("doc_id") % 11 == 0, F.lit(" from 192.168.1.42")
                ).otherwise(F.lit("")),
            ).alias("text"),
        )
        return ps(enriched)

    q["pii_scan"] = pii_scan

    def brand_assortativity(s, d):
        """Newman categorical assortativity of the copurchase graph by
        part brand — the attribute-homophily coefficient (do same-brand
        parts co-sell?); exact integer counts, one division."""
        from gminer_spark.graph.community_metrics import label_assortativity

        e = _edges(s, d)
        parts = gt.load_table(s, d, "part").select(
            F.col("p_partkey").cast("long").alias("id"),
            F.col("p_brand").alias("label"),
        )
        return label_assortativity(gt.symmetrize(e), parts)

    q["brand_assortativity"] = brand_assortativity

    def densest_subgraph(s, d):
        """Parallel densest-subgraph peel (Bahmani et al. PVLDB'12):
        per-vertex removal round + best-density-prefix membership —
        the dense-community / spam-farm mining primitive, exact-
        integer thresholds throughout.  Runs the Charikar-exact
        threshold (thr_num=1) on the h32-sampled sparse subgraph: a
        10-round peel trajectory, every round value-checked (the
        dense graph collapses in one round — a trivial witness)."""
        from gminer_spark.graph.densest import densest_subgraph as ds

        e = _edges(s, d)
        sub = e.where(
            h32_spark(
                F.concat_ws(":", F.lit("colsub"), F.col("src"), F.col("dst"))
            )
            % COLOR_SUB_MOD
            == 0
        )
        return ds(sub, thr_num=1)

    q["densest_subgraph"] = densest_subgraph

    def frequent_itemsets(s, d):
        """A-Priori frequent itemsets (pairs + triples, min_support 2)
        over order baskets — the set-pattern analog of the reference's
        grow-and-prune subgraph mining (apps/maxclique.cpp candidate
        pruning): level-k candidates generated only from surviving
        level k-1 itemsets, semi-join pruned before the count."""
        from gminer_spark.itemsets import frequent_itemsets as fi

        li = _doc(s, d, "lineitem").select(
            F.col("l_orderkey").alias("basket"),
            F.col("l_partkey").alias("item"),
        )
        return fi(li, min_support=2, max_k=3)

    q["frequent_itemsets"] = frequent_itemsets

    def egonet_density(s, d):
        """OddBall egonet-density profile (near-clique vs star signal
        per vertex) riding the oriented wedge join — exact integers,
        one final micro division."""
        from gminer_spark.graph.structure import egonet_density as ego

        return ego(_edges(s, d))

    q["egonet_density"] = egonet_density

    def association_rules(s, d):
        """Directed pair rules x→y over the frequent-pair table with
        confidence >= 0.10 (132 rules at sf0.01) — confidence and
        chance-normalized lift in micro units, double-promoted
        products (the cooccur BIGINT-wrap discipline)."""
        from gminer_spark.itemsets import association_rules as ar

        li = _doc(s, d, "lineitem").select(
            F.col("l_orderkey").alias("basket"),
            F.col("l_partkey").alias("item"),
        )
        return ar(li, min_support=2, min_confidence_micro=100_000)

    q["association_rules"] = association_rules

    def itemset_maintainer(s, d):
        """Streaming frequent-pair maintenance fed the lineitem
        baskets in 3 deterministic h32 batches (baskets span batches
        by construction) — the maintained counts must equal the
        one-shot pair table, which is the oracle."""
        from gminer_spark.itemsets import ItemsetMaintainer

        li = _doc(s, d, "lineitem").select(
            F.col("l_orderkey").alias("basket"),
            F.col("l_partkey").alias("item"),
        )
        m = ItemsetMaintainer(min_support=2)
        for i in range(3):
            m.update(
                li.where(
                    h32_spark(
                        F.concat_ws(":", F.lit("ibat"), "basket", "item")
                    )
                    % 3
                    == i
                )
            )
        return m.frequent_pairs()

    q["itemset_maintainer"] = itemset_maintainer

    def basket_recommendations(s, d):
        """Top-5 'customers also bought' per customer from the
        association-rule table: rules fire on owned items, owned
        consequents anti-joined away, exact lift-sum scoring."""
        from gminer_spark.itemsets import (
            association_rules as ar,
            recommend_items,
        )

        li = _doc(s, d, "lineitem")
        od = _doc(s, d, "orders")
        baskets = li.select(
            F.col("l_orderkey").alias("basket"),
            F.col("l_partkey").alias("item"),
        )
        rules = ar(baskets, min_support=2, min_confidence_micro=100_000)
        ui = li.join(
            od, li.l_orderkey == od.o_orderkey
        ).select(
            F.col("o_custkey").alias("user"),
            F.col("l_partkey").alias("item"),
        )
        return recommend_items(ui, rules, k=5)

    q["basket_recommendations"] = basket_recommendations

    def site_tree(s, d):
        """Hierarchical URL path rollup (crawl-budget / sitemap view):
        page + URL counts per (host, depth<=2 path prefix) over a
        deterministic URL synthesis with repeated pages and query
        strings (n_urls > n_pages exercises the distinct)."""
        from gminer_spark.web.sitetree import site_tree as st

        li = _doc(s, d, "lineitem")
        urls = li.select(
            F.concat(
                F.lit("https://s"),
                (F.col("l_suppkey") % 101).cast("string"),
                F.lit(".example.com/cat"),
                (F.col("l_partkey") % 13).cast("string"),
                F.lit("/item/"),
                F.col("l_partkey").cast("string"),
                F.lit("?ln="),
                F.col("l_linenumber").cast("string"),
            ).alias("url")
        )
        return st(urls, depth=2)

    q["site_tree"] = site_tree

    def edge_embeddedness(s, d):
        """Per-edge neighborhood-overlap Jaccard (weak-tie / bridge
        signal) riding the k-truss wedge join — exact integers, one
        final micro division, zero-union guard."""
        from gminer_spark.graph.structure import edge_embeddedness as ee

        return ee(_edges(s, d))

    q["edge_embeddedness"] = edge_embeddedness

    def community_quotient(s, d):
        """Quotient graph over the value-green LPA(3) labeling: one
        supernode per community, inter/intra edge counts — the
        coarsening primitive (the BDG block-info aggregate with the
        labeling as a parameter)."""
        from gminer_spark.graph.lpa import label_propagation
        from gminer_spark.graph.quotient import quotient_graph

        e = _edges(s, d)
        labels = label_propagation(e, num_iter=LPA_ITERS).state
        return quotient_graph(e, labels)

    q["community_quotient"] = community_quotient

    def k_center(s, d):
        """Greedy farthest-point k-center (Gonzalez 2-approx, k=4)
        with nearest-center assignment — landmark/probe placement
        spread to the periphery by construction; max-dist/min-id
        next-center rule, strict-improvement reassignment."""
        from gminer_spark.graph.kcenter import k_center as kc

        return kc(_edges(s, d), k=4, max_depth=6)

    q["k_center"] = k_center

    def mmr_selection(s, d):
        """Maximal Marginal Relevance picks (λ=1/2, k=6) from the
        embeddings table against the vec_id-0 query — the retrieval-
        side dedup of a RAG pipeline; BIGINT objective over
        1e-6-rounded cosines, min-id ties."""
        from gminer_spark.sim.mmr import mmr_select

        return mmr_select(_doc(s, d, "embeddings"), query_id=0, k=6)

    q["mmr_selection"] = mmr_selection

    def rknn_counts(s, d):
        """Reverse-kNN counts over the embedding table (k=5): the
        embedding-space hub signal — semantic attractors vs outliers
        nobody's top-k points at."""
        from gminer_spark.sim.mmr import rknn_counts as rk

        return rk(_doc(s, d, "embeddings"), k=5)

    q["rknn_counts"] = rknn_counts

    def event_bursts(s, d):
        """Trailing-window burst hours per event type (dense hour
        grid, exact-integer cnt*m >= factor*prev_sum rule) — the
        ops-alerting / trending primitive over the events table."""
        from gminer_spark.streaming.bursts import event_bursts as eb

        return eb(_doc(s, d, "events"), factor=3, m=3, min_count=5)

    q["event_bursts"] = event_bursts

    def event_attribution(s, d):
        """Last-touch conversion attribution (24h window): most
        recent same-user view/click before each purchase, via a
        packed-BIGINT running max (portable: no IGNORE NULLS; integer
        div because the packed key exceeds double's 2^53)."""
        from gminer_spark.streaming.bursts import last_touch_attribution

        return last_touch_attribution(_doc(s, d, "events"))

    q["event_attribution"] = event_attribution

    def event_attribution_first(s, d):
        """First-touch dual (campaign origin): earliest in-window
        same-user touch via a RANGE-framed MIN over the packed key
        (last-touch could use an unbounded frame; the earliest
        in-window one needs the range bound)."""
        from gminer_spark.streaming.bursts import first_touch_attribution

        return first_touch_attribution(_doc(s, d, "events"))

    q["event_attribution_first"] = event_attribution_first

    def widest_paths(s, d):
        """Maximum-bottleneck (widest) path capacity from the PPR seed
        set over shared-order weights — the max-min semiring on the
        SSSP superstep shape; exact BIGINT, fixpoint 7 rounds at
        sf0.01 (longer paths can out-widen direct edges)."""
        from gminer_spark.graph.sssp import widest_paths as wp

        we = gt.copurchase_weighted_edges(s, d)
        srcs = gt.vertices(we).where(F.col("id") % PPR_SEED_MOD == 0)
        return wp(we, srcs, weight_col="w")

    q["widest_paths"] = widest_paths

    def dedup_snm(s, d):
        """Sorted-neighborhood near-dup pairs (prefix-blocked SNM,
        window 3, exact 3-shingle Jaccard verify at 0.30) — the 7th
        candidate-generation modality of the dedup family."""
        from gminer_spark.textops.dedup import snm_pairs

        return snm_pairs(
            _doc(s, d, "documents"), window=3, threshold_micro=300_000
        )

    q["dedup_snm"] = dedup_snm

    def dedup_allpairs(s, d):
        """EXACT all-pairs similarity join via prefix filtering
        (Bayardo et al. WWW'07) — completeness-guaranteed, the 8th
        dedup modality; the oracle is an INDEPENDENT brute-force
        all-pairs join, so the compare checks the prefix lemma."""
        from gminer_spark.textops.dedup import allpairs_jaccard

        return allpairs_jaccard(
            _doc(s, d, "documents"), threshold_micro=300_000
        )

    q["dedup_allpairs"] = dedup_allpairs

    def msf_boruvka(s, d):
        """Borůvka minimum spanning forest over shared-order weights
        ((w, src, dst) total order -> unique Kruskal-equal forest,
        pytest-replicated): min-edge pick per component via struct-min
        groupBy (no per-component window straggler), pointer-doubling
        contraction; measured 2 rounds / chain 5 at sf0.01."""
        from gminer_spark.graph.msf import minimum_spanning_forest

        return minimum_spanning_forest(
            gt.copurchase_weighted_edges(s, d), weight_col="w"
        )

    q["msf_boruvka"] = msf_boruvka

    def single_linkage(s, d):
        """Single-linkage clusters at cut height 1 via the Boruvka
        forest + hash-min CC; the oracle derives the same clusters
        INDEPENDENTLY (recursive CC over the thresholded ORIGINAL
        edges — the dendrogram property is what's checked)."""
        from gminer_spark.graph.msf import single_linkage as sl

        return sl(gt.copurchase_weighted_edges(s, d), threshold=1)

    q["single_linkage"] = single_linkage

    def hybrid_rrf(s, d):
        """Reciprocal Rank Fusion of the BM25 and cosine retrievers
        (the hybrid-search combiner): per-list 1/(60+rank) micro
        contributions, exact BIGINT fusion, top-20."""
        from gminer_spark.textops.retrieval import hybrid_rrf as hr

        return hr(
            _doc(s, d, "documents"),
            _doc(s, d, "embeddings"),
            RETRIEVAL_TERMS,
            query_vec_id=0,
        )

    q["hybrid_rrf"] = hybrid_rrf

    def forman_curvature(s, d):
        """Augmented Forman-Ricci edge curvature (4 - du - dv + 3t):
        pure-BIGINT network geometry — strongly negative edges are
        inter-community bottlenecks, the complement signal to
        edge_embeddedness."""
        from gminer_spark.graph.structure import forman_curvature as fc

        return fc(_edges(s, d))

    q["forman_curvature"] = forman_curvature

    def bond_percolation(s, d):
        """Bond-percolation robustness curve (keep-p 20/50/80 md5
        coins): kept edges, component count (isolated vertices
        included), giant size per probe — the random-LINK-loss
        complement of hub_removal's targeted-vertex rows."""
        from gminer_spark.graph.percolation import bond_percolation as bp

        return bp(_edges(s, d), probs_pct=[20, 50, 80])

    q["bond_percolation"] = bond_percolation

    def louvain_moves(s, d):
        """Parity-activated parallel Louvain local moves (4 fixed
        rounds from singletons): exact-integer modularity-gain
        argmax (m2*e - k*vol cross-products), strict-improvement
        rule, md5 activation coin — the modularity-ascent community
        op alongside LPA's mode vote."""
        from gminer_spark.graph.louvain import louvain_moves as lm

        return lm(_edges(s, d), num_rounds=4)

    q["louvain_moves"] = louvain_moves

    def louvain_two_level(s, d):
        """FULL two-phase Louvain: level-1 moves -> weighted quotient
        (intra-community mass as supernode self-loops) -> level-2
        weighted moves (salt lv2) -> label projection."""
        from gminer_spark.graph.louvain import louvain_two_level as l2

        return l2(_edges(s, d), rounds1=4, rounds2=4)

    q["louvain_two_level"] = louvain_two_level

    def modularity_compare(s, d):
        """Global Newman Q of three labelings over the SAME graph —
        LPA(3), Louvain local moves (4), full two-level Louvain — the
        method-comparison row a community-detection user actually
        reads.  Qnum exact BIGINT, one division per method."""
        from gminer_spark.graph.community_metrics import global_modularity
        from gminer_spark.graph.louvain import (
            louvain_moves,
            louvain_two_level,
        )
        from gminer_spark.graph.lpa import label_propagation

        e = _edges(s, d)
        sym = gt.symmetrize(e).localCheckpoint()
        methods = {
            "lpa": label_propagation(e, num_iter=LPA_ITERS).state,
            "louvain1": louvain_moves(e, num_rounds=4).withColumnRenamed(
                "community", "label"
            ),
            "louvain2": louvain_two_level(e, 4, 4).withColumnRenamed(
                "community", "label"
            ),
        }
        out = None
        for name, lab in methods.items():
            row = global_modularity(sym, lab).select(
                F.lit(name).alias("method"),
                "n_communities",
                "modularity_micro",
            )
            out = row if out is None else out.unionByName(row)
        return out

    q["modularity_compare"] = modularity_compare

    def partition_ari(s, d):
        """Adjusted Rand Index between the LPA(3) and Louvain(4)
        partitions — exact pair-counting: every C(n,2) term and cross
        product in BIGINT, ONE final micro division.  The agreement
        scalar that tells a user whether two community methods see
        the same structure."""
        from gminer_spark.graph.louvain import louvain_moves
        from gminer_spark.graph.lpa import label_propagation

        e = _edges(s, d)
        a = label_propagation(e, num_iter=LPA_ITERS).state.select(
            "id", F.col("label").alias("la")
        )
        b = louvain_moves(e, num_rounds=4).select(
            "id", F.col("community").alias("lb")
        )
        # materialize the contingency table ONCE (r5 advice): the four
        # scalar actions below would otherwise re-run the LPA⋈Louvain
        # join + aggregate per action over unpersisted lineage
        ct = (
            a.join(b, on="id")
            .groupBy("la", "lb")
            .agg(F.count("*").cast("long").alias("nij"))
            .localCheckpoint()
        )
        s_ij = ct.agg(
            F.sum(F.col("nij") * (F.col("nij") - 1) / 2).cast("long")
        ).first()[0]
        s_a = (
            ct.groupBy("la")
            .agg(F.sum("nij").alias("ai"))
            .agg(F.sum(F.col("ai") * (F.col("ai") - 1) / 2).cast("long"))
            .first()[0]
        )
        s_b = (
            ct.groupBy("lb")
            .agg(F.sum("nij").alias("bj"))
            .agg(F.sum(F.col("bj") * (F.col("bj") - 1) / 2).cast("long"))
            .first()[0]
        )
        n = a.count()
        cn2 = n * (n - 1) // 2
        num = 2 * s_ij * cn2 - 2 * s_a * s_b
        den = (s_a + s_b) * cn2 - 2 * s_a * s_b
        ari_micro = round(num / den * 1e6) if den else 0
        return s.createDataFrame(
            [(int(n), int(s_ij), int(s_a), int(s_b), int(ari_micro))],
            "n long, s_ij long, s_a long, s_b long, ari_micro long",
        )

    q["partition_ari"] = partition_ari

    def truss_community(s, d):
        """Truss community SEARCH (Huang et al. SIGMOD'14): the
        maximal connected k-truss component around the min surviving
        vertex — k-truss peel + hash-min CC + membership filter."""
        from gminer_spark.graph.ktruss import truss_community as tc

        return tc(_edges(s, d), k=KTRUSS_K, max_iter=KTRUSS_ITERS)

    q["truss_community"] = truss_community

    def cpm_communities(s, d):
        """k=3 clique-percolation (Palla et al.) — the repo's only
        OVERLAPPING community model: triangles sharing an edge
        percolate; vertices belong to every community their triangles
        reach. Edge-relay min-label rounds (never the squared
        triangle-adjacency pairs); h32 1/8 edge sample (752
        triangles, 578 communities, fixpoint 11 rounds at sf0.01)."""
        from gminer_spark.graph.cpm import cpm_communities as cpm

        e = _edges(s, d)
        sub = e.where(
            h32_spark(
                F.concat_ws(":", F.lit("colsub"), F.col("src"), F.col("dst"))
            )
            % 8
            == 0
        )
        return cpm(sub)

    q["cpm_communities"] = cpm_communities

    def triad_census(s, d):
        """Directed triangle census (cyclic 030C vs transitive 030T)
        on the same md5-coin directed view as bowtie_regions — the
        link-exchange-ring anomaly scalar, one row."""
        from gminer_spark.graph.triangles import triad_census as tc

        return tc(_edges(s, d))

    q["triad_census"] = triad_census

    def dag_layers(s, d):
        """Longest-path topological layering (critical-path levels) of
        the h32-sampled canonical src<dst DAG — MAX-propagation
        supersteps, one fused action per round; measured depth 19 at
        sf0.01 (the full canonical DAG is depth ~208 — layering is for
        bounded-depth dependency DAGs, hence the sampled input)."""
        from gminer_spark.graph.dag import dag_layers as dl

        e = _edges(s, d)
        sub = e.where(
            h32_spark(
                F.concat_ws(":", F.lit("colsub"), F.col("src"), F.col("dst"))
            )
            % COLOR_SUB_MOD
            == 0
        )
        return dl(sub)

    q["dag_layers"] = dag_layers

    def ppr_sweep_cut(s, d):
        """Andersen–Chung–Lang local clustering: conductance sweep
        over the score/degree order of the value-green PPR chain
        (same seed set as ppr_micro) — per-prefix cut/volume/
        conductance plus the minimum-conductance prefix (the seeds'
        local community).  Exact-integer cut identity, one double
        division per prefix, unrounded-ratio argmin."""
        from gminer_spark.graph.pagerank import pagerank
        from gminer_spark.graph.sweep import conductance_sweep

        e = _edges(s, d)
        seeds = gt.vertices(e).where(F.col("id") % PPR_SEED_MOD == 0)
        res = pagerank(e, num_iter=PR_ITERS, reset=seeds)
        scores = res.state.select(
            "id",
            F.round(F.col("rank") * 1e6, 0).cast("long").alias("rank_micro"),
        )
        return conductance_sweep(e, scores, sweep_n=200)

    q["ppr_sweep_cut"] = ppr_sweep_cut

    def bowtie_regions(s, d):
        """Broder bow-tie decomposition (SCC/IN/OUT/OTHER around the
        min-id pivot) over a deterministic md5-coin directed view of
        the co-purchase graph (the canonical src<dst table is acyclic,
        which would make the decomposition degenerate)."""
        from gminer_spark.graph.reach import bowtie

        e = _edges(s, d)
        flip = (
            h32_spark(F.concat_ws(":", F.lit("dir"), "src", "dst")) % 2 == 0
        )
        de = e.select(
            F.when(flip, F.col("src")).otherwise(F.col("dst")).alias("src"),
            F.when(flip, F.col("dst")).otherwise(F.col("src")).alias("dst"),
        )
        return bowtie(de)

    q["bowtie_regions"] = bowtie_regions

    def scc(s, d):
        """Full strongly-connected-component decomposition (multi-pivot
        forward-backward peeling with trim + hash-min coloring) over
        the SAME md5-coin directed view as bowtie_regions — scc_id is
        the min member id, so the output is algorithm-independent and
        the witness is a plain transitive-closure recursive CTE."""
        from gminer_spark.graph.scc import strongly_connected_components

        e = _edges(s, d)
        flip = (
            h32_spark(F.concat_ws(":", F.lit("dir"), "src", "dst")) % 2 == 0
        )
        de = e.select(
            F.when(flip, F.col("src")).otherwise(F.col("dst")).alias("src"),
            F.when(flip, F.col("dst")).otherwise(F.col("src")).alias("dst"),
        )
        return strongly_connected_components(de)

    q["scc"] = scc

    def scc_condensation(s, d):
        """The condensation DAG: every SCC contracted to its min-id
        vertex, distinct cross-component edges kept — what cycle-free
        analyses (dead-end mass flow, crawl tiering) run on.

        Runs over a DAG-biased sparse view (10% of edges kept, low→high
        orientation, 1-in-20 flipped back) rather than the bowtie/scc
        md5-coin view: the coin view at oracle scale is ONE giant SCC,
        whose condensation is vacuously empty.  This view yields a
        giant core + singleton periphery (≈312 components, ≈573
        condensation edges at sf0.01) — a real bow-tie shape, so the
        witness actually checks contraction + cross-edge dedup."""
        from gminer_spark.graph.scc import condensation

        e = _edges(s, d)
        kept = e.where(
            h32_spark(F.concat_ws(":", F.lit("keep"), "src", "dst")) % 10 == 0
        )
        flip = (
            h32_spark(F.concat_ws(":", F.lit("dirb"), "src", "dst")) % 20 == 0
        )
        de = kept.select(
            F.when(flip, F.col("dst")).otherwise(F.col("src")).alias("src"),
            F.when(flip, F.col("src")).otherwise(F.col("dst")).alias("dst"),
        )
        return condensation(de)

    q["scc_condensation"] = scc_condensation

    def condensation_pagerank(s, d):
        """Cycle-contracted PageRank — WHY a web user wants full SCC
        (VERDICT r3): contract every SCC, weight each condensation
        edge by its original cross-edge count, rank the resulting DAG
        with the value-green weighted PageRank engine.  Same sparse
        DAG-biased view as `scc_condensation`."""
        from gminer_spark.graph.pagerank import pagerank
        from gminer_spark.graph.scc import strongly_connected_components

        e = _edges(s, d)
        kept = e.where(
            h32_spark(F.concat_ws(":", F.lit("keep"), "src", "dst")) % 10 == 0
        )
        flip = (
            h32_spark(F.concat_ws(":", F.lit("dirb"), "src", "dst")) % 20 == 0
        )
        de = kept.select(
            F.when(flip, F.col("dst")).otherwise(F.col("src")).alias("src"),
            F.when(flip, F.col("src")).otherwise(F.col("dst")).alias("dst"),
        ).localCheckpoint()
        scc = strongly_connected_components(de)
        smap = scc.select(F.col("id").alias("src"), F.col("scc_id").alias("src_scc"))
        dmap = scc.select(F.col("id").alias("dst"), F.col("scc_id").alias("dst_scc"))
        cedges = (
            de.join(smap, on="src")
            .join(dmap, on="dst")
            .where(F.col("src_scc") != F.col("dst_scc"))
            .groupBy(
                F.col("src_scc").alias("src"), F.col("dst_scc").alias("dst")
            )
            .agg(F.count("*").cast("double").alias("w"))
        )
        res = pagerank(cedges, num_iter=PR_ITERS, weight_col="w")
        return res.state.select(
            F.col("id").alias("scc_id"),
            F.round(F.col("rank") * 1e6, 0).cast("long").alias("rank_micro"),
        )

    q["condensation_pagerank"] = condensation_pagerank

    def degree_assortativity(s, d):
        """Degree assortativity (Pearson r of endpoint degrees over the
        directed sym edge list — Newman 2002).  Every moment is an
        exact BIGINT sum; only the final ratio is floating, computed
        in mirrored order on both engines and micro-rounded."""
        e = _edges(s, d)
        sym = gt.symmetrize(e)
        deg = sym.groupBy("src").agg(F.count("*").cast("long").alias("deg"))
        du = deg.select("src", F.col("deg").alias("x"))
        dv = deg.select(F.col("src").alias("dst"), F.col("deg").alias("y"))
        m = (
            sym.join(du, on="src")
            .join(dv, on="dst")
            .agg(
                F.count("*").cast("long").alias("m"),
                F.sum("x").cast("long").alias("sx"),
                F.sum("y").cast("long").alias("sy"),
                F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
                F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
                F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
            )
        )
        # cast each moment to double BEFORE multiplying: m*sxx in LONG
        # overflows silently on Spark (non-ANSI) while DuckDB promotes
        # to HUGEINT — at larger scale factors the two engines would
        # diverge.  Each moment is < 2^53 long before the products are,
        # so double-first keeps the arithmetic bit-identical across
        # engines.
        md, sxd, syd = (F.col(c).cast("double") for c in ("m", "sx", "sy"))
        num = md * F.col("sxy").cast("double") - sxd * syd
        vx = md * F.col("sxx").cast("double") - sxd * sxd
        vy = md * F.col("syy").cast("double") - syd * syd
        return m.select(
            F.round(num / F.sqrt(vx * vy) * 1e6, 0)
            .cast("long")
            .alias("assortativity_micro")
        )

    q["degree_assortativity"] = degree_assortativity

    def avg_neighbor_degree(s, d):
        """k_nn(k) degree-correlation profile (mean neighbor degree
        per degree class, micro-rounded) — the curve behind the
        assortativity scalar."""
        from gminer_spark.graph.structure import avg_neighbor_degree as annd

        return annd(_edges(s, d))

    q["avg_neighbor_degree"] = avg_neighbor_degree

    def wl_colors(s, d):
        """1-WL (Weisfeiler-Lehman) color refinement: per-vertex
        structural fingerprints after 3 rounds — the graph-ML feature
        extractor / symmetry probe; multiset serialization is string-
        sorted identically in both engines."""
        from gminer_spark.graph.wl import wl_colors as wl

        return wl(_edges(s, d), rounds=3)

    q["wl_colors"] = wl_colors

    def wl_histogram(s, d):
        """WL color-class histogram — the structural signature two
        isomorphic graphs must share."""
        from gminer_spark.graph.wl import wl_histogram as wlh

        return wlh(_edges(s, d), rounds=3)

    q["wl_histogram"] = wl_histogram

    def rich_club(s, d):
        """Rich-club density curve phi(k) — single-pass suffix sums
        over the degree and min-endpoint-degree histograms, no
        per-threshold join."""
        from gminer_spark.graph.structure import rich_club as rc

        return rc(_edges(s, d))

    q["rich_club"] = rich_club

    def rich_club_normalized(s, d):
        """rho(k) = phi(k)/phi_null(k) against a deterministic
        degree-preserving null model (md5-derandomized parallel
        double-edge swaps, 3 rounds) — the statistical control the
        raw curve needs (r4 verdict task #5).  rho from EXACT integer
        edge counts (node terms cancel: degrees are swap-invariant)."""
        from gminer_spark.graph.rewire import rich_club_normalized as rcn

        return rcn(_edges(s, d), rounds=3, n_buckets=64)

    q["rich_club_normalized"] = rich_club_normalized

    def random_robustness(s, d):
        """Random-FAILURE robustness on the SAME mod-32 sparse
        subgraph as hub_robustness: drop 40 h32-random vertices
        instead of the 40 top hubs — the Albert-Jeong-Barabási
        contrast (giant survives random failure, shatters under
        attack) measured on one graph."""
        from gminer_spark.graph.snapshot import hub_removal_robustness

        e = _edges(s, d)
        sub = e.where(
            h32_spark(
                F.concat_ws(":", F.lit("colsub"), F.col("src"), F.col("dst"))
            )
            % 32
            == 0
        )
        rand40 = (
            gt.vertices(sub)
            .orderBy(
                h32_spark(F.concat_ws(":", F.lit("rfail"), F.col("id"))).asc(),
                F.col("id").asc(),
            )
            .limit(40)
        )
        return hub_removal_robustness(sub, drop=rand40)

    q["random_robustness"] = random_robustness

    def feature_agg_2hop(s, d):
        """GNN preprocessing: 2-hop neighbor-sum of an integer vertex
        feature (id % 1000) — A²·x exactly, one shuffle per hop."""
        from gminer_spark.graph.features import feature_propagation

        e = _edges(s, d)
        feats = gt.vertices(e).select("id", (F.col("id") % 1000).alias("f"))
        return feature_propagation(e, feats, hops=2, agg="sum")

    q["feature_agg_2hop"] = feature_agg_2hop

    def feature_agg_2hop_minmax(s, d):
        """GraphSAGE-style min/max pooling variants of the 2-hop
        aggregation — same superstep plan, different combiner."""
        from gminer_spark.graph.features import feature_propagation

        e = _edges(s, d)
        feats = gt.vertices(e).select("id", (F.col("id") % 1000).alias("f"))
        mn = feature_propagation(e, feats, hops=2, agg="min").withColumnRenamed(
            "f", "f_min"
        )
        mx = feature_propagation(e, feats, hops=2, agg="max").withColumnRenamed(
            "f", "f_max"
        )
        return mn.join(mx, on="id")

    q["feature_agg_2hop_minmax"] = feature_agg_2hop_minmax

    def clustering_coeff(s, d):
        """Local clustering coefficient 2T(v)/deg(v)(deg(v)-1) —
        triangles-per-vertex composed with the degree table."""
        from gminer_spark.graph.linkpred import clustering_coefficient

        return clustering_coefficient(_edges(s, d))

    q["clustering_coeff"] = clustering_coeff

    def transitivity(s, d):
        """Global clustering coefficient 3·triangles / wedges
        (micro-rounded) — the one-number small-world summary."""
        from gminer_spark.graph.triangles import triangle_count

        import math

        e = _edges(s, d)
        tri = triangle_count(e)
        sym = gt.symmetrize(e)
        deg = sym.groupBy("src").agg(F.count("*").alias("deg"))
        # 2*wedges as an exact integer; the one float op (6*tri*1e6/w2)
        # and its half-up rounding mirror the oracle bit for bit
        w2 = int(
            deg.agg(
                F.sum(F.col("deg") * (F.col("deg") - 1)).cast("long")
            ).first()[0]
        )
        val = (
            int(math.floor(6.0 * tri * 1e6 / w2 + 0.5)) if w2 else 0
        )
        return s.createDataFrame(
            [(val,)], "transitivity_micro long"
        )

    q["transitivity"] = transitivity

    def mis(s, d):
        """Maximal independent set — Luby's rounds derandomized with
        md5 priorities, so the MIS is unique and exactly checkable.
        Rounds past the empty undecided set are no-ops (engine stops
        early; the MIS_ITERS-unrolled oracle matches)."""
        from gminer_spark.graph.mis import maximal_independent_set

        return maximal_independent_set(_edges(s, d), max_iter=MIS_ITERS)

    q["mis"] = mis

    def random_walks(s, d):
        """Deterministic random-walk corpus (DeepWalk-style training
        data): md5-derived transitions over the dst-sorted adjacency —
        hash-uniform like a seeded RNG, bit-identical across engines."""
        from gminer_spark.graph.walks import random_walks as rw

        res = rw(_edges(s, d), walk_len=3, walks_per_vertex=2)
        return res.select(
            "start",
            F.col("walk").cast("long").alias("walk"),
            F.col("step").cast("long").alias("step"),
            "vertex",
        )

    q["random_walks"] = random_walks

    def random_walks_weighted(s, d):
        """Weighted walk corpus: transitions ∝ shared-order count via
        an all-integer cumulative-weight draw (exact oracle)."""
        from gminer_spark.graph.walks import random_walks as rw

        res = rw(
            gt.copurchase_weighted_edges(s, d),
            walk_len=3,
            walks_per_vertex=1,
            weight_col="w",
        )
        return res.select(
            "start",
            F.col("walk").cast("long").alias("walk"),
            F.col("step").cast("long").alias("step"),
            "vertex",
        )

    q["random_walks_weighted"] = random_walks_weighted

    def random_walks_node2vec(s, d):
        """node2vec (p,q)-biased walk corpus with integer ret/in/out
        biases (4:2:1 ~ p=0.25, q=0.5) — the second-order transition
        stays an exact integer draw, so the unrolled oracle is
        bit-identical."""
        from gminer_spark.graph.walks import random_walks_node2vec as n2v

        res = n2v(
            _edges(s, d),
            walk_len=3,
            walks_per_vertex=1,
            ret_bias=4,
            in_bias=2,
            out_bias=1,
        )
        return res.select(
            "start",
            F.col("walk").cast("long").alias("walk"),
            F.col("step").cast("long").alias("step"),
            "vertex",
        )

    q["random_walks_node2vec"] = random_walks_node2vec

    def node2vec_skipgrams(s, d):
        """Skip-gram training pairs over the node2vec corpus — the
        biased-walk counterpart of walk_skipgrams (embedding trainer
        input)."""
        from gminer_spark.graph.walks import random_walks_node2vec as n2v
        from gminer_spark.graph.walks import skipgram_pairs

        walks = n2v(
            _edges(s, d),
            walk_len=3,
            walks_per_vertex=1,
            ret_bias=4,
            in_bias=2,
            out_bias=1,
        )
        return (
            skipgram_pairs(walks, window=2)
            .groupBy("center", "context")
            .agg(F.count("*").cast("long").alias("cnt"))
        )

    q["node2vec_skipgrams"] = node2vec_skipgrams

    def walk_skipgrams(s, d):
        """Skip-gram (center, context) pair counts from the walk corpus
        — the DeepWalk training-data stage after sampling."""
        from gminer_spark.graph.walks import random_walks as rw
        from gminer_spark.graph.walks import skipgram_pairs

        walks = rw(_edges(s, d), walk_len=3, walks_per_vertex=2)
        return (
            skipgram_pairs(walks, window=2)
            .groupBy("center", "context")
            .agg(F.count("*").cast("long").alias("cnt"))
        )

    q["walk_skipgrams"] = walk_skipgrams

    def score(s, d):
        """s-core (weighted k-core): survivors keep total incident
        shared-order weight >= SCORE_K within the survivor set —
        k_core's peel with SUM(w) in place of COUNT(*)."""
        from gminer_spark.graph.kcore import s_core

        return s_core(
            gt.copurchase_weighted_edges(s, d),
            k=SCORE_K,
            weight_col="w",
            max_iter=SCORE_ITERS,
        )

    q["score"] = score

    def degree_histogram(s, d):
        """Degree distribution (count-of-counts over the undirected
        view) — the first diagnostic anyone runs on a web graph, exact
        and trivially oracled."""
        e = _edges(s, d)
        sym = gt.symmetrize(e)
        deg = sym.groupBy("src").agg(F.count("*").alias("degree"))
        return deg.groupBy("degree").agg(
            F.count("*").cast("long").alias("n_vertices")
        )

    q["degree_histogram"] = degree_histogram

    def coreness_hindex(s, d):
        """Coreness by the iterated-h-index fixpoint (Lü et al. 2016)
        — the scale path for full core decomposition: one
        window+aggregate pass per round instead of a peel loop per k
        level.  Fixed CORENESS_H_ITERS rounds (fixpoint at 18 on
        sf0.01; idempotent past it) so engine and unrolled oracle
        agree exactly."""
        from gminer_spark.graph.kcore import coreness_hindex as ch

        return ch(_edges(s, d), num_iter=CORENESS_H_ITERS)

    q["coreness_hindex"] = coreness_hindex

    def motif_open_wedges(s, d):
        """Motif API (GM-app generalization): per-center count of OPEN
        wedges a-b-c with no closing a-c edge — positive chaining plus
        a negated term, compiled to a Catalyst join chain."""
        from gminer_spark.graph.motif import find

        res = find(_edges(s, d), "(a)-(b); (b)-(c); !(a)-(c)")
        return (
            res.where(F.col("a") < F.col("c"))
            .groupBy(F.col("b").alias("id"))
            .agg(F.count("*").alias("open_wedges"))
        )

    q["motif_open_wedges"] = motif_open_wedges

    def motif_heavy_wedges(s, d):
        """Edge-variable motif: wedges whose BOTH edges have weight >= 2
        (shared-order count), counted per center — (a)-[e1]-(b);
        (b)-[e2]-(c) with filters on the bound edge attributes."""
        from gminer_spark.graph.motif import find

        we = gt.copurchase_weighted_edges(s, d)
        res = find(we, "(a)-[e1]-(b); (b)-[e2]-(c)").where(
            (F.col("a") < F.col("c"))
            & (F.col("e1_w") >= 2)
            & (F.col("e2_w") >= 2)
        )
        return res.groupBy(F.col("b").alias("id")).agg(
            F.count("*").cast("long").alias("heavy_wedges")
        )

    q["motif_heavy_wedges"] = motif_heavy_wedges

    def motif_sink_fanin(s, d):
        """Anti-vertex motif: (a)->(b); !(b)->(c) — b is a SINK (no
        out-edge in the directed view; the unbound c is existentially
        negated).  Returns per-sink fan-in — the dangling-page shape
        PageRank's dangling-mass term redistributes."""
        from gminer_spark.graph.motif import find

        res = find(_edges(s, d), "(a)->(b); !(b)->(c)")
        return res.groupBy(F.col("b").alias("id")).agg(
            F.count("*").cast("long").alias("fan_in")
        )

    q["motif_sink_fanin"] = motif_sink_fanin

    def ktruss(s, d):
        """k-truss by triangle-support peeling (oriented TC enumeration
        per round).  k=12 really peels at sf0.01 (4 rounds,
        115729 -> 1127 edges); KTRUSS_ITERS caps engine and oracle
        alike — idempotent past the fixpoint."""
        from gminer_spark.graph.ktruss import k_truss

        return k_truss(_edges(s, d), k=KTRUSS_K, max_iter=KTRUSS_ITERS)

    q["ktruss"] = ktruss

    # -- 4. join patterns (SURVEY §2.3) -------------------------------------
    def vertex_pull(s, d):
        """The core GMiner 'join': dedup'd frontier pull of the top-5
        seeds' neighborhoods (core/slave.tpp:307-401 analog)."""
        edges = _edges(s, d)
        sym = gt.symmetrize(edges)
        deg = gt.degrees(sym)
        seeds = (
            deg.orderBy(F.col("degree").desc(), F.col("id").asc())
            .limit(5)
            .select(F.col("id").alias("seed"))
        )
        # request dedup (ref_count map analog) = distinct before join
        frontier = (
            F.broadcast(seeds)
            .join(sym, seeds.seed == sym.src)
            .select("seed", F.col("dst").alias("pulled"))
            .distinct()
        )
        return frontier

    q["vertex_pull"] = vertex_pull

    def nb_owner_join(s, d):
        """nb_info_exchange: map each adjacency entry to its owner
        partition (BDGPartitioner.tpp:352-409 analog)."""
        edges = _edges(s, d)
        return edges.select(
            "src", "dst", F.pmod(F.col("dst"), F.lit(8)).cast("int").alias("dst_owner")
        )

    q["nb_owner_join"] = nb_owner_join

    def adj_intersect(s, d):
        """Per-edge common-neighbor counts (merge-intersection analog,
        apps/trianglecount.cpp:84-111) for a deterministic edge subset."""
        edges = _edges(s, d)
        sym = gt.symmetrize(edges)
        sub = edges.where(F.col("src") <= 50)
        n1 = sym.select(F.col("src").alias("u"), F.col("dst").alias("c"))
        n2 = sym.select(F.col("src").alias("v"), F.col("dst").alias("c"))
        return (
            sub.join(n1, sub.src == n1.u)
            .join(n2, (sub.dst == n2.v) & (n1.c == n2.c))
            .groupBy(F.col("src"), F.col("dst"))
            .agg(F.count("*").alias("common"))
        )

    q["adj_intersect"] = adj_intersect

    # -- 5. CSR blocks (SURVEY §1.3) ----------------------------------------
    def csr_stats(s, d):
        from gminer_spark.graph.csr import build_csr_blocks, csr_block_stats

        return csr_block_stats(build_csr_blocks(_edges(s, d), n_blocks=8))

    q["csr_stats"] = csr_stats

    # -- 6. aggregations (SURVEY §2.4) ---------------------------------------
    def agg_partial_final(s, d):
        li = _doc(s, d, "lineitem")
        return (
            li.groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum("l_quantity").cast("double").alias("sum_qty"),
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
                ).alias("revenue"),
                F.count("*").alias("n_rows"),
            )
        )

    q["agg_partial_final"] = agg_partial_final

    def agg_max_bound(s, d):
        """Global max read as pruning bound (maxclique.cpp:13-47 analog)."""
        return (
            _doc(s, d, "orders")
            .groupBy("o_orderstatus")
            .agg(
                F.round(F.max("o_totalprice"), 2).alias("max_price"),
                F.round(F.min("o_totalprice"), 2).alias("min_price"),
            )
        )

    q["agg_max_bound"] = agg_max_bound

    def count_by_key(s, d):
        """Voronoi cell-size histogram analog (BPartitioner.tpp:14-64)."""
        return _doc(s, d, "orders").groupBy("o_orderpriority").agg(
            F.count("*").alias("n")
        )

    q["count_by_key"] = count_by_key

    def set_union_agg(s, d):
        """Set-union aggregator (community.cpp:99-132 analog)."""
        c = _doc(s, d, "customer")
        return c.groupBy("c_nationkey").agg(
            F.array_join(
                F.array_sort(F.collect_set("c_mktsegment")), ","
            ).alias("segments"),
            F.countDistinct("c_mktsegment").alias("n_segments"),
        )

    q["set_union_agg"] = set_union_agg

    def combiner_min(s, d):
        """Pre-shuffle min-combiner (util/vecs.tpp:79-107 analog)."""
        return _edges(s, d).groupBy("dst").agg(F.min("src").alias("min_msg"))

    q["combiner_min"] = combiner_min

    # -- 7. sorts / top-k (SURVEY §2.5) ---------------------------------------
    def topk_per_group(s, d):
        from pyspark.sql import Window

        o = _doc(s, d, "orders")
        w = Window.partitionBy("o_orderpriority").orderBy(
            F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
        )
        return (
            o.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 3)
            .select(
                "o_orderpriority",
                "o_orderkey",
                F.round("o_totalprice", 2).alias("price"),
                F.col("rn").cast("long").alias("rn"),
            )
        )

    q["topk_per_group"] = topk_per_group

    def degree_topk(s, d):
        """Degree-descending candidate ordering (maxclique.cpp:52-83)."""
        deg = gt.degrees(_edges(s, d))
        return (
            deg.orderBy(F.col("degree").desc(), F.col("id").asc())
            .limit(20)
            .select("id", "out_deg", "in_deg", "degree")
        )

    q["degree_topk"] = degree_topk

    # -- 8. labeled pattern match (SURVEY §2.10 GM) ---------------------------
    def pattern_match(s, d):
        """Count matches of pattern a–b, a–c, b–c, b–d
        (apps/graphmatch.cpp) on the sparsely-labeled co-purchase graph.

        ``sym`` and ``lab`` are materialized once: the 4-edge pattern
        references the symmetric view four times and the label table
        four times, and without the barrier the lineitem self-join
        appears ~124 times in the physical plan (r6 plan audit —
        ReuseExchange dedups some at runtime, but planning and the
        un-reused subtrees still pay)."""
        sym = gt.symmetrize(_edges(s, d)).localCheckpoint()
        lab = gt.vertices(sym).select(
            "id",
            F.when(F.pmod(F.col("id"), F.lit(29)) == 0, "a")
            .when(F.pmod(F.col("id"), F.lit(29)) == 1, "b")
            .when(F.pmod(F.col("id"), F.lit(29)) == 2, "c")
            .when(F.pmod(F.col("id"), F.lit(29)) == 3, "d")
            .alias("lbl"),
        ).where(F.col("lbl").isNotNull()).localCheckpoint()
        la = lab.where(F.col("lbl") == "a").select(F.col("id").alias("va"))
        lb = lab.where(F.col("lbl") == "b").select(F.col("id").alias("vb"))
        lc = lab.where(F.col("lbl") == "c").select(F.col("id").alias("vc"))
        ld = lab.where(F.col("lbl") == "d").select(F.col("id").alias("vd"))
        e = sym
        ab = la.join(e, (la.va == e.src)).join(lb, F.col("dst") == lb.vb).select("va", "vb")
        ac = la.join(e, (la.va == e.src)).join(lc, F.col("dst") == lc.vc).select(F.col("va").alias("va2"), "vc")
        bc = lb.join(e, (lb.vb == e.src)).join(lc, F.col("dst") == lc.vc).select(F.col("vb").alias("vb2"), F.col("vc").alias("vc2"))
        bd = lb.join(e, (lb.vb == e.src)).join(ld, F.col("dst") == ld.vd).select(F.col("vb").alias("vb3"), "vd")
        matches = (
            ab.join(ac, ab.va == ac.va2)
            .join(bc, (F.col("vb") == F.col("vb2")) & (F.col("vc") == F.col("vc2")))
            .join(bd, F.col("vb") == F.col("vb3"))
            .where(F.col("vd") != F.col("va"))
            .where(F.col("vd") != F.col("vc"))
            .select("va", "vb", "vc", "vd")
            .distinct()
        )
        return matches.agg(F.count("*").alias("n_matches"))

    q["pattern_match"] = pattern_match

    # -- 8b. mining kernels (SURVEY §2.10 MCF / CD) ----------------------------
    def max_clique_q(s, d):
        """Exact maximum clique via two-pass bounded B&B kernels."""
        from gminer_spark.graph.mining import max_clique

        size, members = max_clique(_edges(s, d))
        return s.createDataFrame(
            [(size, ",".join(str(m) for m in members))],
            "clique_size int, members string",
        )

    q["max_clique"] = max_clique_q  # rows-only: B&B not SQL-expressible

    def communities_q(s, d):
        """Attributed communities: cliques sharing a part brand (CD app)."""
        from gminer_spark.graph.mining import attributed_communities

        part = _doc(s, d, "part").select(
            F.col("p_partkey").cast("long").alias("id"),
            F.col("p_brand").alias("attr"),
        )
        res = attributed_communities(_edges(s, d), part, k=4)
        return res.select(
            F.array_join("community", ",").alias("community"),
            "shared_attr",
            F.size("community").alias("size"),
        )

    q["communities"] = communities_q  # rows-only

    def pagerank_blocked_micro(s, d):
        """CSR gather-scatter PageRank — same fixpoint as pagerank_micro,
        so it shares the unrolled-SQL oracle (validates the CSR path)."""
        from gminer_spark.graph.csr import pagerank_blocked

        res = pagerank_blocked(_edges(s, d), n_blocks=16, num_iter=PR_ITERS)
        return res.select(
            "id", F.round(F.col("rank") * 1e6, 0).cast("long").alias("rank_micro")
        )

    q["pagerank_blocked_micro"] = pagerank_blocked_micro

    def pagerank_locality_micro(s, d):
        """Blocked PageRank over BDG/Voronoi locality blocks (the
        owner-annotated-format analog, BDGPartitioner.tpp:339-350) —
        same fixpoint, so it shares the unrolled-SQL oracle; validates
        the data-driven-ownership routing end to end."""
        from gminer_spark.graph.csr import pagerank_blocked
        from gminer_spark.graph.partitioning import partition_graph

        edges = _edges(s, d)
        # the full BDG flow: Voronoi cells -> greedy worker assignment
        # (KDD'13 strategy 4) -> 16 locality blocks.  Aggressive
        # sampling + shallow flood keeps the partitioning pass cheap;
        # block QUALITY is irrelevant to correctness.
        bm = partition_graph(
            edges,
            n_workers=16,
            sample_rate=0.2,
            max_hop=2,
            max_vc_size=10**9,
            stop_ratio=1.0,
        ).select("id", F.col("wid").cast("int").alias("block"))
        res = pagerank_blocked(
            edges, n_blocks=16, num_iter=PR_ITERS, block_map=bm
        )
        return res.select(
            "id", F.round(F.col("rank") * 1e6, 0).cast("long").alias("rank_micro")
        )

    q["pagerank_locality_micro"] = pagerank_locality_micro

    def focusco_q(s, d):
        """Focused clustering (GC/FocusCO app at full parity:
        expand/contract/dual-phi/outliers, focusCO.cpp:162-343) on the
        supplier co-occurrence graph, weights = number of shared
        orders; ALL qualifying seeds run as one task-parallel batch."""
        from gminer_spark.graph.focusco import FocusCOParams, focused_clusters
        from gminer_spark.graph.tables import load_table

        li = load_table(s, d, "lineitem").select("l_orderkey", "l_suppkey")
        a = li.alias("a")
        b = li.alias("b")
        w = (
            a.join(b, on="l_orderkey")
            .where(F.col("a.l_suppkey") < F.col("b.l_suppkey"))
            .groupBy(
                F.col("a.l_suppkey").cast("long").alias("src"),
                F.col("b.l_suppkey").cast("long").alias("dst"),
            )
            .agg(F.count("*").cast("double").alias("weight"))
        )
        # Scale-invariant MIN_WEIGHT: the weight of the (4·|V|)-th
        # heaviest edge (deterministic top-K, ties broken on src/dst).
        # An absolute threshold does NOT transfer across scale factors:
        # at sf0.1 the supplier graph has 10x the pairs at LOWER
        # per-pair weights, so a fixed cut admits ~median edges and
        # every task's core/pull explodes (OOM at 8g).  Top-4|V| keeps
        # mean heavy-degree ~8 at any sf.
        w = w.persist()
        n_v = (
            w.select(F.col("src").alias("id"))
            .unionByName(w.select(F.col("dst").alias("id")))
            .distinct()
            .count()
        )
        kth = (
            w.orderBy(F.col("weight").desc(), "src", "dst")
            .limit(4 * n_v)
            .agg(F.min("weight"))
            .first()[0]
        )
        # cand_max_time=5 (an argv knob in the reference, :616) bounds
        # each task's candidate frontier — with the 512-task batches
        # (the reference's queue-draining analog) the per-round pull
        # stays in low-GB territory at any sf.
        p = FocusCOParams(
            min_weight=float(kth),
            min_core_size=8,
            min_result_size=3,
            diff_ratio=0.05,  # stop expanding below 5% phi improvement
            iter_round_max=3,
            cand_max_time=5.0,
        )
        # deterministic 64-seed task set (heaviest-degree suppliers of
        # the heavy-edge graph): every Spark round costs the same
        # whether 64 or 10k tasks are live, but stragglers' ROUNDS
        # dominate wall-clock — an all-seeds sweep belongs in a batch
        # job, not a per-round gate query
        heavy = w.where(F.col("weight") >= float(kth))
        seeds = [
            int(r["id"])
            for r in heavy.select(F.col("src").alias("id"))
            .unionByName(heavy.select(F.col("dst").alias("id")))
            .groupBy("id")
            .agg(F.count("*").alias("hd"))
            .orderBy(F.col("hd").desc(), F.col("id"))
            .limit(64)
            .collect()
        ]
        res = focused_clusters(w, p, seeds=seeds, max_spark_rounds=40)
        return res.select(
            F.array_join("cluster", ",").alias("cluster"),
            F.array_join("outlier", ",").alias("outlier"),
            F.round(F.col("phi") * 1e6, 0).cast("long").alias("phi_micro"),
            F.size("cluster").alias("size"),
        ).orderBy("cluster")

    q["focusco"] = focusco_q  # rows-only: iterative expand/contract, not SQL

    # -- 8c. partitioning quality (SURVEY §3.2) --------------------------------
    def partition_hash_quality(s, d):
        """Cross-edge ratio under hash ownership (the partitioner's
        printed stat, BPartitioner.tpp:454-486)."""
        from gminer_spark.graph.partitioning import (
            cross_edge_ratio,
            hash_partitioning,
        )

        edges = _edges(s, d)
        ratio = cross_edge_ratio(edges, hash_partitioning(edges, 8))
        return s.createDataFrame(
            [(int(round(ratio * 1e6)),)], "cross_ratio_micro bigint"
        )

    q["partition_hash_quality"] = partition_hash_quality

    def partition_bdg_quality(s, d):
        """Cross-edge ratio after the BDG locality pass (Voronoi blocks
        + greedy co-location assignment)."""
        from gminer_spark.graph.partitioning import (
            cross_edge_ratio,
            partition_graph,
        )

        edges = _edges(s, d)
        ratio = cross_edge_ratio(edges, partition_graph(edges, 8))
        return s.createDataFrame(
            [(int(round(ratio * 1e6)),)], "cross_ratio_micro bigint"
        )

    q["partition_bdg_quality"] = partition_bdg_quality  # rows-only

    # -- 9. text analysis ------------------------------------------------------
    def text_tokens(s, d):
        from gminer_spark.textops.analysis import token_stats

        return token_stats(_doc(s, d, "documents"))

    q["text_tokens"] = text_tokens

    def text_quality(s, d):
        from gminer_spark.textops.analysis import quality_scores

        return quality_scores(_doc(s, d, "documents"))

    q["text_quality"] = text_quality

    def text_lang(s, d):
        from gminer_spark.textops.analysis import lang_id

        return lang_id(_doc(s, d, "documents"))

    q["text_lang"] = text_lang

    def text_fingerprint(s, d):
        from gminer_spark.textops.analysis import fingerprints

        return fingerprints(_doc(s, d, "documents"))

    q["text_fingerprint"] = text_fingerprint

    def text_repetition(s, d):
        """Gopher-style intra-document repetition signals: dup-token
        fraction, top-token share, top-bigram share."""
        from gminer_spark.textops.analysis import repetition_stats

        return repetition_stats(_doc(s, d, "documents"))

    q["text_repetition"] = text_repetition

    def corpus_split(s, d):
        """Deterministic content-keyed train/val/test split (96/2/2):
        re-runs over a grown corpus never move an old document."""
        from gminer_spark.textops.corpus import dataset_split

        return dataset_split(_doc(s, d, "documents"))

    q["corpus_split"] = corpus_split

    def corpus_chunks(s, d):
        """Fixed-size token windows with overlap — the document ->
        context-window explode of a training pipeline."""
        from gminer_spark.textops.corpus import chunk_documents

        return chunk_documents(
            _doc(s, d, "documents"), chunk_tokens=64, overlap=8
        )

    q["corpus_chunks"] = corpus_chunks

    def corpus_contamination(s, d):
        """Exact 8-gram overlap of every document against a benchmark
        subset (doc_id % 50 == 0) — the eval-contamination audit."""
        from gminer_spark.textops.corpus import contamination

        docs = _doc(s, d, "documents")
        bench = docs.where(F.col("doc_id") % 50 == 0)
        return contamination(docs, bench, n=8)

    q["corpus_contamination"] = corpus_contamination

    def corpus_top_ngrams(s, d):
        """Top-100 token bigrams (every occurrence counted, total-order
        tie-break) — the corpus statistic BPE training starts from."""
        from gminer_spark.textops.corpus import top_ngrams

        return top_ngrams(_doc(s, d, "documents"), n=2, k=100)

    q["corpus_top_ngrams"] = corpus_top_ngrams

    def text_cooccurrence(s, d):
        """Top-k windowed token co-occurrence pairs with log-free PMI
        lift — the count table an embedding/collocation pass starts
        from.  W equi-joins on (doc, pos+d), never a range join."""
        from gminer_spark.textops.cooccur import cooccurrence_topk

        return cooccurrence_topk(
            _doc(s, d, "documents"), window=3, k=100, min_count=2
        )

    q["text_cooccurrence"] = text_cooccurrence

    def corpus_retrieval(s, d):
        """Log-free BM25 top-k against a seed query term set — the
        targeted-corpus-selection step of a domain-specific training
        pipeline (r4 verdict task #2).  Per-term contributions
        micro-rounded before the exact integer per-doc sum; top-k is
        TakeOrderedAndProject (plan-asserted), never a global sort."""
        from gminer_spark.textops.retrieval import bm25_topk

        return bm25_topk(
            _doc(s, d, "documents"), RETRIEVAL_TERMS, k=50
        )

    q["corpus_retrieval"] = corpus_retrieval

    def doc_keywords(s, d):
        """Per-document top-5 TF-IDF keywords (log-free ratio idiom):
        the document-side dual of corpus_retrieval — topic tags /
        cluster labels for every doc in one pass, top-k via a per-doc
        window (never a global sort)."""
        from gminer_spark.textops.retrieval import doc_keywords as dk

        return dk(_doc(s, d, "documents"), k=5)

    q["doc_keywords"] = doc_keywords

    def vocab_growth(s, d):
        """Heaps-law vocabulary growth over 10 doc-ordered corpus
        slices — cumulative tokens vs distinct words, one pass via
        first-appearance buckets (no per-prefix rescans)."""
        from gminer_spark.textops.analysis import vocab_growth as vg

        return vg(_doc(s, d, "documents"), n_buckets=10)

    q["vocab_growth"] = vocab_growth

    def boilerplate_shingles(s, d):
        """Per-source boilerplate shingles (df >= ceil(frac*n_docs)):
        the template detector a web-corpus cleaning pass runs before
        training — shared shingle explode with the dedup family."""
        from gminer_spark.textops.boilerplate import boilerplate_shingles as bs

        return bs(_doc(s, d, "documents"), shingle_n=3, frac_pct=8, min_df=2)

    q["boilerplate_shingles"] = boilerplate_shingles

    def dedup_containment(s, d):
        """Asymmetric shingle containment pairs (quote / sub-document
        duplication detector) over the shared inverted index."""
        from gminer_spark.textops.dedup import shingle_containment_pairs

        return shingle_containment_pairs(
            _doc(s, d, "documents"), n=3, threshold=0.5, max_df=100
        )

    q["dedup_containment"] = dedup_containment

    def boilerplate_ratio(s, d):
        """Per-doc template-contamination ratio over the same
        source-level boilerplate set (micro-rounded)."""
        from gminer_spark.textops.boilerplate import boilerplate_ratio as br

        return br(_doc(s, d, "documents"), shingle_n=3, frac_pct=8, min_df=2)

    q["boilerplate_ratio"] = boilerplate_ratio

    def corpus_pack(s, d):
        """Concatenate-and-slice sequence packing: shard -> hash-pinned
        token stream -> fixed 128-token packs, boundary docs split
        across consecutive packs — the GPT-style training layout."""
        from gminer_spark.textops.corpus import pack_token_stream

        return pack_token_stream(
            _doc(s, d, "documents"), ctx_len=128, n_shards=8
        )

    q["corpus_pack"] = corpus_pack

    def corpus_stratified_sample(s, d):
        """Deterministic per-stratum downsampling (language-mix
        rebalance): keep iff h32(seed:doc_id) % 1000 < rate[lang]."""
        from gminer_spark.textops.corpus import stratified_sample

        return stratified_sample(
            _doc(s, d, "documents"),
            rates={"en": 250, "zh": 1000},
            default_permille=500,
        )

    q["corpus_stratified_sample"] = corpus_stratified_sample

    def corpus_token_budget(s, d):
        """Greedy quality-first selection under a 10k-token budget —
        bucketed-prefix cumsum, no global document sort."""
        from gminer_spark.textops.corpus import select_by_token_budget

        return select_by_token_budget(
            _doc(s, d, "documents"), budget_tokens=10_000
        )

    q["corpus_token_budget"] = corpus_token_budget

    # -- 10. dedup ---------------------------------------------------------------
    def dedup_exact(s, d):
        from gminer_spark.textops.dedup import exact_dup_groups

        return exact_dup_groups(_doc(s, d, "documents"))

    q["dedup_exact"] = dedup_exact

    def dedup_jaccard(s, d):
        """n-gram Jaccard near-dups with the document-frequency cut
        exercised (max_df=100): hot shingles leave the inverted index
        before the self-join; the oracle applies the identical cut."""
        from gminer_spark.textops.dedup import ngram_jaccard_pairs

        return ngram_jaccard_pairs(
            _doc(s, d, "documents"), n=3, threshold=0.8, max_df=100
        )

    q["dedup_jaccard"] = dedup_jaccard

    def minhash_sigs(s, d):
        """MinHash signatures themselves (the reference signs task
        request-sets the same way, util/minhash.cpp:30-45) — ordered by
        the first hash, the reference's locality sort
        (core/task_sorter.tpp:16-39)."""
        from gminer_spark.textops.dedup import minhash_signatures

        sig = minhash_signatures(_doc(s, d, "documents"), num_hashes=4)
        return sig.select("doc_id", "mh_0", "mh_1", "mh_2", "mh_3")

    q["minhash_signatures"] = minhash_sigs

    def dedup_minhash_lsh(s, d):
        from gminer_spark.textops.dedup import minhash_lsh_pairs

        return minhash_lsh_pairs(_doc(s, d, "documents"), num_hashes=16, bands=4)

    q["dedup_minhash_lsh"] = dedup_minhash_lsh

    def dedup_clusters(s, d):
        """Near-dup CLUSTERING: the graph engine closes the loop on the
        text pipeline — MinHash-LSH candidate pairs become an edge
        table, hash-min CC groups transitive duplicates, and the min
        doc_id is the canonical representative (singletons keep
        themselves).  This is the 100-TB dedup shape: bucketed pair
        generation, batch-sized merge graph, one relabel join."""
        from gminer_spark.graph.cc import connected_components
        from gminer_spark.textops.dedup import minhash_lsh_pairs

        docs = _doc(s, d, "documents").select(
            F.col("doc_id").cast("long").alias("doc_id")
        )
        pairs = minhash_lsh_pairs(
            _doc(s, d, "documents"), num_hashes=16, bands=4
        )
        edges = pairs.select(
            F.col("doc_a").cast("long").alias("src"),
            F.col("doc_b").cast("long").alias("dst"),
        )
        labels = connected_components(edges).state
        return (
            docs.join(labels, docs.doc_id == labels.id, "left")
            .select(
                "doc_id",
                F.coalesce("component", F.col("doc_id")).alias("cluster"),
            )
            .withColumn("is_canonical", F.col("doc_id") == F.col("cluster"))
        )

    q["dedup_clusters"] = dedup_clusters

    def dedup_admission(s, d):
        """Streaming admission twin of dedup_clusters: two
        deterministic batches (doc_id parity) through a
        DedupMaintainer — batch 1 admits its cluster canonicals,
        batch 2 additionally rejects anything colliding with the
        admitted index.  Output: (doc_id, batch) of admitted docs."""
        from gminer_spark.textops.dedup import DedupMaintainer

        docs = _doc(s, d, "documents")
        m = DedupMaintainer(num_hashes=16, bands=4, shingle_n=3)
        a1 = m.update(docs.where(F.col("doc_id") % 2 == 0)).select(
            "doc_id", F.lit(1).alias("batch")
        )
        a2 = m.update(docs.where(F.col("doc_id") % 2 == 1)).select(
            "doc_id", F.lit(2).alias("batch")
        )
        return a1.unionByName(a2)

    q["dedup_admission"] = dedup_admission

    def training_corpus(s, d):
        """The END-TO-END corpus build: quality filter -> exact-dup
        canonicals -> near-dup cluster canonicals -> split tag ->
        token chunks, value-checked as ONE composed pipeline."""
        from gminer_spark.textops.corpus import build_training_corpus

        return build_training_corpus(_doc(s, d, "documents"))

    q["training_corpus"] = training_corpus

    def dedup_simhash(s, d):
        from gminer_spark.textops.dedup import simhash_near_pairs

        return simhash_near_pairs(_doc(s, d, "documents"), bits=16, max_hamming=3)

    q["dedup_simhash"] = dedup_simhash

    # -- 11. similarity search ------------------------------------------------
    def ann_cosine(s, d):
        from gminer_spark.sim.ann import cosine_topk

        return cosine_topk(_doc(s, d, "embeddings"), list(range(10)), k=5)

    q["ann_cosine"] = ann_cosine

    def ann_lsh(s, d):
        from gminer_spark.sim.ann import ann_lsh_topk

        return ann_lsh_topk(_doc(s, d, "embeddings"), list(range(10)), k=5)

    q["ann_lsh"] = ann_lsh  # rows-only: recall < 1 by construction

    def ann_ivf(s, d):
        """IVF ANN (the brief's named scale path): deterministic
        k-means cells as the inverted index, n_probe nearest cells per
        query, exact cosine re-rank.  Recall-tested vs brute force in
        pytest (test_corpus_ops)."""
        from gminer_spark.sim.ann import ann_ivf_topk

        return ann_ivf_topk(
            _doc(s, d, "embeddings"), list(range(10)), k=5, n_cells=16, n_probe=4
        )

    q["ann_ivf"] = ann_ivf  # rows-only: recall < 1 by construction

    def dedup_embedding(s, d):
        from gminer_spark.sim.ann import embedding_near_dups

        return embedding_near_dups(_doc(s, d, "embeddings"), threshold=0.35)

    q["dedup_embedding"] = dedup_embedding

    def embedding_dedup_clusters(s, d):
        """Embedding-space near-dup CLUSTERING: cosine>=0.35 pairs ->
        hash-min CC -> min vec_id canonical — the vector-side twin of
        dedup_clusters (same 100-TB shape: gated/bucketed pair
        generation, batch-sized merge graph, one relabel join)."""
        from gminer_spark.graph.cc import connected_components
        from gminer_spark.sim.ann import embedding_near_dups

        emb = _doc(s, d, "embeddings")
        vecs = emb.select(F.col("vec_id").cast("long").alias("vec_id"))
        pairs = embedding_near_dups(emb, threshold=0.35)
        edges = pairs.select(
            F.col("vec_a").cast("long").alias("src"),
            F.col("vec_b").cast("long").alias("dst"),
        )
        labels = connected_components(edges).state
        return (
            vecs.join(labels, vecs.vec_id == labels.id, "left")
            .select(
                "vec_id",
                F.coalesce("component", F.col("vec_id")).alias("cluster"),
            )
            .withColumn("is_canonical", F.col("vec_id") == F.col("cluster"))
        )

    q["embedding_dedup_clusters"] = embedding_dedup_clusters

    def kmeans_embeddings(s, d):
        """Deterministic Lloyd k-means assignments (micro-int exact
        arithmetic, md5 init, argmin tie on cid) — the semantic
        bucketing primitive for corpus curation."""
        from gminer_spark.sim.kmeans import kmeans

        return kmeans(_doc(s, d, "embeddings"), k=8, num_iter=3)

    q["kmeans_embeddings"] = kmeans_embeddings

    def kmeans_purity(s, d):
        """Cluster purity of the Lloyd assignment vs the embeddings
        ground-truth label column (external validation): per-cluster
        majority label + counts, ties to the smaller label."""
        from gminer_spark.sim.kmeans import kmeans_purity as kp

        return kp(_doc(s, d, "embeddings"), k=8, num_iter=3)

    q["kmeans_purity"] = kmeans_purity

    def kmeans_silhouette(s, d):
        """Simplified (centroid-based, squared-distance) silhouette
        per cluster — internal validation, linear in points*k (the
        pairwise silhouette is quadratic and dead at scale); exact
        BIGINT sqdists from the micro-quantized vectors."""
        from gminer_spark.sim.kmeans import kmeans_silhouette as ks

        return ks(_doc(s, d, "embeddings"), k=8, num_iter=3)

    q["kmeans_silhouette"] = kmeans_silhouette

    def kmeans_reps(s, d):
        """One representative per k-means cluster (member closest to
        the final centroid) — diversity sampling: k spread-out
        exemplars of the corpus."""
        from gminer_spark.sim.kmeans import kmeans_representatives

        return kmeans_representatives(_doc(s, d, "embeddings"), k=8, num_iter=3)

    q["kmeans_reps"] = kmeans_reps

    # -- 12. multimodal plumbing ------------------------------------------------
    def multimodal_meta(s, d):
        from gminer_spark.multimodal.binary import attach_payload

        wp = attach_payload(_doc(s, d, "documents"))
        return wp.select(
            "doc_id",
            F.col("meta.mime").alias("mime"),
            F.col("meta.n_bytes").alias("n_bytes"),
            F.col("meta.checksum").alias("checksum"),
        )

    q["multimodal_meta"] = multimodal_meta

    def multimodal_features(s, d):
        from gminer_spark.multimodal.binary import attach_payload, decode_features

        feats = decode_features(attach_payload(_doc(s, d, "documents")))
        return feats.select(
            "doc_id",
            "n_bytes",
            F.round(F.element_at("feat", 2), 6).alias("byte_mean"),
            F.round(F.element_at("feat", 7), 6).alias("space_density"),
        )

    q["multimodal_features"] = multimodal_features

    def multimodal_decode(s, d):
        """REAL stdlib decode (BMP/WAV/PGM): synthesize genuine
        container payloads per doc, parse them back with struct+numpy,
        emit exact-integer shape + content aggregates.  The oracle
        recomputes the decoded sums from the md5 content-stream
        definition — container parsing bugs (padding, BGR, bottom-up
        rows, endianness, sign) all diverge the values."""
        from gminer_spark.multimodal.binary import decode_media, synth_media

        return decode_media(synth_media(_doc(s, d, "documents")))

    q["multimodal_decode"] = multimodal_decode

    # -- 13. events (streaming analogs) -----------------------------------------
    def events_window(s, d):
        from gminer_spark.streaming.events import windowed_counts

        s.conf.set("spark.sql.session.timeZone", "UTC")  # oracle parity

        wc = windowed_counts(_doc(s, d, "events"), minutes=60)
        return wc.select(
            F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("ws"),
            "event_type",
            "n",
            F.round("total_value", 4).alias("total_value"),
        )

    q["events_window"] = events_window

    def events_sessions(s, d):
        from gminer_spark.streaming.events import sessionize

        s.conf.set("spark.sql.session.timeZone", "UTC")  # oracle parity

        se = sessionize(_doc(s, d, "events"), gap_minutes=30)
        return se.select(
            "user_id",
            "session_id",
            F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("ss"),
            "n_events",
        )

    q["events_sessions"] = events_sessions

    def events_dedup(s, d):
        """Retry-collapse dedup: earliest event per (user, type, hour)
        — the at-least-once ingest repair; streaming twin is
        dropDuplicatesWithinWatermark (tested batch≡semantics)."""
        from gminer_spark.streaming.events import dedup_events

        s.conf.set("spark.sql.session.timeZone", "UTC")  # oracle parity

        de = dedup_events(_doc(s, d, "events"), granularity="hour")
        return de.select(
            "user_id",
            "event_type",
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "event_id",
            F.round("value", 4).alias("value"),
        )

    q["events_dedup"] = events_dedup

    def event_transitions(s, d):
        """First-order Markov transition graph of event types per
        user timeline (counts exact, P(next|prev) micro-rounded) —
        a behavior-state link graph; one window shuffle on user_id."""
        from gminer_spark.streaming.journeys import event_transitions as et

        s.conf.set("spark.sql.session.timeZone", "UTC")  # oracle parity
        return et(_doc(s, d, "events"))

    q["event_transitions"] = event_transitions

    def event_funnel(s, d):
        """Ordered-step funnel view→click→purchase with strict
        time chaining (earliest qualifying occurrence per step)."""
        from gminer_spark.streaming.journeys import funnel_counts

        s.conf.set("spark.sql.session.timeZone", "UTC")  # oracle parity
        return funnel_counts(_doc(s, d, "events"), FUNNEL_STEPS)

    q["event_funnel"] = event_funnel

    def behavior_pagerank(s, d):
        """Weighted PageRank over the event-type TRANSITION graph —
        stationary attention over behavior states (the host_pagerank
        pattern applied to the journeys family: h32 state ids,
        value-green weighted engine, type strings joined back)."""
        from gminer_spark.graph.pagerank import pagerank
        from gminer_spark.streaming.journeys import event_transitions as et

        s.conf.set("spark.sql.session.timeZone", "UTC")  # oracle parity
        tr = et(_doc(s, d, "events")).where(
            F.col("prev_type") != F.col("next_type")
        )
        edges = tr.select(
            h32_spark(F.col("prev_type")).alias("src"),
            h32_spark(F.col("next_type")).alias("dst"),
            F.col("cnt").cast("double").alias("w"),
        )
        types = (
            tr.select(F.col("prev_type").alias("etype"))
            .unionByName(tr.select(F.col("next_type").alias("etype")))
            .distinct()
        )
        pr = pagerank(edges, num_iter=PR_ITERS, weight_col="w").state
        return pr.join(
            types.select("etype", h32_spark(F.col("etype")).alias("id")),
            on="id",
        ).select(
            "etype",
            F.round(F.col("rank") * 1e6, 0).cast("long").alias("rank_micro"),
        )

    q["behavior_pagerank"] = behavior_pagerank

    return q


# ---------------------------------------------------------------------------
# oracle SQL registry
# ---------------------------------------------------------------------------


def build_oracles() -> dict[str, str]:
    o: dict[str, str] = {}

    o["graph_edges"] = f"WITH {EDGES_CTE.strip()} SELECT src, dst FROM edges"

    from gminer_spark.web.edges import host_graph_oracle_sql

    o["web_host_graph"] = host_graph_oracle_sql(
        """links AS (
    SELECT 'https://s' || CAST(l_suppkey % 101 AS VARCHAR)
               || '.example.com/page/' || CAST(l_orderkey AS VARCHAR)
               AS src_url,
           'https://p' || CAST(l_partkey % 137 AS VARCHAR)
               || '.example.com/item/' || CAST(l_partkey AS VARCHAR)
               AS dst_url
    FROM lineitem)"""
    )

    from gminer_spark.web.edges import anchor_stats_oracle_sql

    o["web_anchor_stats"] = anchor_stats_oracle_sql(
        """anchors AS (
    SELECT 'https://s' || CAST(l_suppkey % 101 AS VARCHAR)
               || '.example.com/page/' || CAST(l_orderkey AS VARCHAR)
               AS src_url,
           'https://p' || CAST(l_partkey % 137 AS VARCHAR)
               || '.example.com/item/' || CAST(l_partkey AS VARCHAR)
               AS dst_url,
           'buy part ' || CAST(l_partkey % 7 AS VARCHAR) AS anchor
    FROM lineitem)"""
    )

    o["host_pagerank"] = host_pagerank_oracle_sql(
        """links AS (
    SELECT 'https://s' || CAST(l_suppkey % 101 AS VARCHAR)
               || '.example.com/page/' || CAST(l_orderkey AS VARCHAR)
               AS src_url,
           'https://p' || CAST(l_partkey % 137 AS VARCHAR)
               || '.example.com/item/' || CAST(l_partkey AS VARCHAR)
               AS dst_url
    FROM lineitem
    UNION ALL
    SELECT 'https://p' || CAST(l_partkey % 137 AS VARCHAR)
               || '.example.com/item/' || CAST(l_partkey AS VARCHAR)
               AS src_url,
           'https://s' || CAST(l_suppkey % 101 AS VARCHAR)
               || '.example.com/page/' || CAST(l_orderkey AS VARCHAR)
               AS dst_url
    FROM lineitem WHERE l_linenumber % 3 = 0)"""
    )

    from gminer_spark.web.edges import resolve_redirects_oracle_sql

    _chain_key = "'chain:' || CAST(o_orderkey AS VARCHAR)"
    o["redirect_resolution"] = resolve_redirects_oracle_sql(
        f"""redirects AS (
    SELECT 'https://r.example.com/' || CAST(o_orderkey AS VARCHAR)
               || '/' || CAST(i AS VARCHAR) AS src_url,
           'https://r.example.com/' || CAST(o_orderkey AS VARCHAR)
               || '/' || CAST(i + 1 AS VARCHAR) AS dst_url
    FROM (SELECT o_orderkey,
                 UNNEST(generate_series(0, {h32_sql(_chain_key)} % 7)) AS i
          FROM orders))"""
    )

    from gminer_spark.web.mirrors import (
        doc_mirror_pagefps_sql,
        mirror_hosts_oracle_sql,
    )

    o["mirror_hosts"] = mirror_hosts_oracle_sql(
        doc_mirror_pagefps_sql(), min_jaccard=0.1, max_df=1000
    )

    from gminer_spark.web.edges import crawl_frontier_oracle_sql

    _s_page = (
        "'https://s' || CAST(l_suppkey % 101 AS VARCHAR)"
        " || '.example.com/page/' || CAST(l_orderkey AS VARCHAR)"
    )
    _p_item = (
        "'https://p' || CAST(l_partkey % 137 AS VARCHAR)"
        " || '.example.com/item/' || CAST(l_partkey AS VARCHAR)"
    )
    o["crawl_frontier"] = crawl_frontier_oracle_sql(
        f"""links AS (
    SELECT {_s_page} AS src_url, {_p_item} AS dst_url FROM lineitem)""",
        f"""crawled AS (
    SELECT {_s_page} AS url FROM lineitem
    UNION ALL
    SELECT {_p_item} AS url FROM lineitem WHERE l_partkey % 4 = 0)""",
    )

    # maintainer invariant: final incremental frontier == the batch
    # operator over ALL batches concatenated (order-independent), so
    # the witness is the same one-shot SQL over the full lineitem
    o["frontier_admission"] = o["crawl_frontier"]

    from gminer_spark.web.edges import robots_filter_oracle_sql

    o["robots_allowed"] = robots_filter_oracle_sql(
        f"""urls AS (
    SELECT DISTINCT url FROM (
        SELECT {_s_page} AS url FROM lineitem
        UNION ALL
        SELECT {_p_item} AS url FROM lineitem))""",
        """rules AS (
    SELECT 'p' || CAST(n_nationkey * 5 % 137 AS VARCHAR)
               || '.example.com' AS host,
           CASE WHEN n_nationkey % 3 = 0 THEN '/item/1'
                ELSE '/item/' END AS disallow_prefix
    FROM nation)""",
    )

    from gminer_spark.graph.structure import (
        degree_assortativity_oracle_sql,
        reciprocity_oracle_sql,
    )

    _dedges_cte = """edges AS (
    SELECT CAST(100000 + l_suppkey % 101 AS BIGINT) AS src,
           CAST(200000 + l_partkey % 137 AS BIGINT) AS dst
    FROM lineitem
    UNION ALL
    SELECT CAST(200000 + l_partkey % 137 AS BIGINT) AS src,
           CAST(100000 + l_suppkey % 101 AS BIGINT) AS dst
    FROM lineitem WHERE l_linenumber % 3 = 0)"""
    o["edge_reciprocity"] = reciprocity_oracle_sql(_dedges_cte)
    o["directed_assortativity"] = degree_assortativity_oracle_sql(_dedges_cte)

    from gminer_spark.graph.anf import (
        effective_diameter_oracle_sql,
        neighborhood_function_oracle_sql,
    )

    o["anf_neighborhood"] = neighborhood_function_oracle_sql(
        EDGES_CTE.strip(), radius=4
    )
    o["effective_diameter"] = effective_diameter_oracle_sql(
        EDGES_CTE.strip(), radius=4, q=0.9
    )

    from gminer_spark.graph.anf import ball_sizes_oracle_sql

    o["ball_sizes"] = ball_sizes_oracle_sql(EDGES_CTE.strip(), radius=2)

    o["graph_degrees"] = f"""
WITH {EDGES_CTE.strip()},
outd AS (SELECT src AS id, COUNT(*) AS out_deg FROM edges GROUP BY src),
ind  AS (SELECT dst AS id, COUNT(*) AS in_deg  FROM edges GROUP BY dst)
SELECT COALESCE(outd.id, ind.id) AS id,
       CAST(COALESCE(out_deg, 0) AS BIGINT) AS out_deg,
       CAST(COALESCE(in_deg, 0) AS BIGINT) AS in_deg,
       CAST(COALESCE(out_deg, 0) + COALESCE(in_deg, 0) AS BIGINT) AS degree
FROM outd FULL OUTER JOIN ind ON outd.id = ind.id
"""

    o["tc_global"] = f"""
WITH {EDGES_CTE.strip()}
SELECT COUNT(*) AS triangles
FROM edges e1
JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
JOIN edges e3 ON e3.src = e1.dst AND e3.dst = e2.dst
"""

    o["tc_per_vertex"] = f"""
WITH {EDGES_CTE.strip()},
tri AS (
    SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
    FROM edges e1
    JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
    JOIN edges e3 ON e3.src = e1.dst AND e3.dst = e2.dst
),
corners AS (
    SELECT u AS id FROM tri UNION ALL SELECT v FROM tri UNION ALL SELECT w FROM tri
)
SELECT id, COUNT(*) AS triangles FROM corners GROUP BY id
"""

    from gminer_spark.graph.hits import hits_oracle_sql

    o["hits_micro"] = hits_oracle_sql(EDGES_CTE, iters=10)

    from gminer_spark.graph.salsa import salsa_oracle_sql

    o["salsa_micro"] = salsa_oracle_sql(EDGES_CTE, iters=10)

    from gminer_spark.graph.hitting import hitting_time_oracle_sql

    o["hitting_time_micro"] = hitting_time_oracle_sql(
        EDGES_CTE, f"v.id % {PPR_SEED_MOD} = 0", horizon=6
    )

    from gminer_spark.graph.katz import katz_oracle_sql

    o["katz_micro"] = katz_oracle_sql(EDGES_CTE, horizon=6)

    from gminer_spark.graph.community_metrics import (
        community_quality_oracle_sql,
    )

    o["community_quality"] = (
        "WITH "
        + EDGES_CTE.strip()
        + ",\n"
        + SYM_CTE.strip()
        + ",\n"
        + community_quality_oracle_sql(lpa_oracle_sql(), "sym")
    )

    from gminer_spark.graph.reach import bowtie_oracle_sql

    _dir_key = (
        "'dir:' || CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR)"
    )
    _dir_edges_cte = f"""{EDGES_CTE.strip()},
de AS MATERIALIZED (
    SELECT CASE WHEN {h32_sql(_dir_key)} % 2 = 0 THEN src ELSE dst END AS src,
           CASE WHEN {h32_sql(_dir_key)} % 2 = 0 THEN dst ELSE src END AS dst
    FROM edges)"""
    o["bowtie_regions"] = bowtie_oracle_sql(
        _dir_edges_cte, "(SELECT MIN(id) FROM dverts)"
    )

    from gminer_spark.graph.scc import scc_oracle_sql

    o["scc"] = scc_oracle_sql(_dir_edges_cte)

    from gminer_spark.graph.scc import condensation_oracle_sql

    _dirb_key = (
        "'dirb:' || CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR)"
    )
    _keep_key = (
        "'keep:' || CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR)"
    )
    _sparse_dir_edges_cte = f"""{EDGES_CTE.strip()},
de AS MATERIALIZED (
    SELECT CASE WHEN {h32_sql(_dirb_key)} % 20 = 0 THEN dst ELSE src END AS src,
           CASE WHEN {h32_sql(_dirb_key)} % 20 = 0 THEN src ELSE dst END AS dst
    FROM edges
    WHERE {h32_sql(_keep_key)} % 10 = 0)"""
    o["scc_condensation"] = condensation_oracle_sql(_sparse_dir_edges_cte)

    from gminer_spark.graph.scc import condensation_pagerank_oracle_sql

    o["condensation_pagerank"] = condensation_pagerank_oracle_sql(
        _sparse_dir_edges_cte, iters=PR_ITERS
    )

    o["pagerank_micro"] = pagerank_oracle_sql()
    o["pagerank_blocked_micro"] = pagerank_oracle_sql()
    o["pagerank_locality_micro"] = pagerank_oracle_sql()
    o["pagerank_weighted_micro"] = pagerank_weighted_oracle_sql()
    o["ppr_micro"] = ppr_oracle_sql()
    o["spam_mass"] = spam_mass_oracle_sql()

    from gminer_spark.graph.pagerank import ppr_batch_oracle_sql

    o["ppr_batch_micro"] = ppr_batch_oracle_sql(
        EDGES_CTE, "id % 499 = 0", iters=PR_ITERS
    )

    _ppr_base = ppr_batch_oracle_sql(EDGES_CTE, "id % 499 = 0", iters=PR_ITERS)
    _ppr_ctes, _, _ppr_tail = _ppr_base.rpartition("\nSELECT s, id,")
    o["ppr_topk"] = f"""{_ppr_ctes},
scored AS (
    SELECT s, id, CAST(ROUND(rank * 1e6) AS BIGINT) AS rank_micro
    FROM p{PR_ITERS} WHERE s <> id)
SELECT s, id, rank_micro, CAST(rk AS BIGINT) AS rk FROM (
    SELECT s, id, rank_micro,
           ROW_NUMBER() OVER (PARTITION BY s
                              ORDER BY rank_micro DESC, id ASC) AS rk
    FROM scored) x
WHERE rk <= 5"""
    o["cc_components"] = CC_ORACLE_SQL
    o["cc_incremental"] = CC_ORACLE_SQL
    o["lpa_labels"] = lpa_oracle_sql()
    o["lpa_weighted_labels"] = lpa_weighted_oracle_sql()

    from gminer_spark.graph.kcore import coreness_hindex_oracle_sql, kcore_oracle_sql

    o["kcore"] = kcore_oracle_sql(EDGES_CTE, k=KCORE_K, iters=KCORE_ITERS)
    o["coreness_hindex"] = coreness_hindex_oracle_sql(
        EDGES_CTE, iters=CORENESS_H_ITERS
    )

    from gminer_spark.graph.kcore import score_oracle_sql

    _score_wedges = """
wedges AS (
    SELECT CAST(a.l_partkey AS BIGINT) AS src,
           CAST(b.l_partkey AS BIGINT) AS dst,
           COUNT(*) AS w
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
)"""
    o["score"] = score_oracle_sql(_score_wedges, k=SCORE_K, iters=SCORE_ITERS)

    o["degree_histogram"] = f"""
WITH {EDGES_CTE.strip()}, {SYM_CTE.strip()},
deg AS (SELECT src, COUNT(*) AS degree FROM sym GROUP BY src)
SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_vertices
FROM deg GROUP BY degree
"""

    from gminer_spark.graph.mining import (
        communities_oracle_sql,
        max_clique_oracle_sql,
    )

    # iter caps (measured sf0.01 + margin, same discipline as the peel
    # oracles): max clique 13 -> 16; max same-brand clique 4 -> 7
    o["max_clique"] = max_clique_oracle_sql(EDGES_CTE, max_k=16)
    o["communities"] = communities_oracle_sql(EDGES_CTE, k=4, max_k=7)

    from gminer_spark.graph.betweenness import betweenness_oracle_sql

    o["betweenness"] = betweenness_oracle_sql(
        EDGES_CTE, f"id % {BC_SEED_MOD} = 0", depth=BC_DEPTH
    )

    from gminer_spark.graph.betweenness import edge_betweenness_oracle_sql

    o["edge_betweenness"] = edge_betweenness_oracle_sql(
        EDGES_CTE, f"id % {BC_SEED_MOD} = 0", depth=BC_DEPTH
    )

    from gminer_spark.graph.betweenness import harmonic_oracle_sql

    o["harmonic"] = harmonic_oracle_sql(
        EDGES_CTE, f"id % {BC_SEED_MOD} = 0", depth=BC_DEPTH
    )

    from gminer_spark.graph.betweenness import closeness_oracle_sql

    o["closeness"] = closeness_oracle_sql(
        EDGES_CTE, f"id % {BC_SEED_MOD} = 0", depth=BC_DEPTH
    )

    from gminer_spark.graph.betweenness import eccentricity_oracle_sql

    o["eccentricity"] = eccentricity_oracle_sql(
        EDGES_CTE, f"id % {BC_SEED_MOD} = 0", depth=BC_DEPTH
    )

    from gminer_spark.graph.betweenness import distance_histogram_oracle_sql

    o["distance_histogram"] = distance_histogram_oracle_sql(
        EDGES_CTE, f"id % {BC_SEED_MOD} = 0", depth=BC_DEPTH
    )

    from gminer_spark.graph.landmarks import (
        estimate_distances_oracle_sql,
        landmark_sketch_oracle_sql,
    )

    o["landmark_distances"] = landmark_sketch_oracle_sql(
        EDGES_CTE, SYM_CTE, k=LM_K, depth=LM_DEPTH
    )
    o["landmark_dist_estimates"] = estimate_distances_oracle_sql(
        EDGES_CTE,
        SYM_CTE,
        k=LM_K,
        depth=LM_DEPTH,
        u_pred=f"id % {LM_U_MOD} = 0",
        v_pred=f"id % {LM_V_MOD} = 1",
    )

    from gminer_spark.graph.cocitation import (
        cocitation_oracle_sql,
        coupling_oracle_sql,
    )

    o["cocitation"] = cocitation_oracle_sql(
        EDGES_CTE, top_k=COCIT_TOPK, max_center_deg=COCIT_MAXDEG
    )
    o["coupling"] = coupling_oracle_sql(
        EDGES_CTE, top_k=COCIT_TOPK, max_center_deg=COCIT_MAXDEG
    )

    from gminer_spark.graph.coloring import coloring_oracle_sql

    _color_edges_cte = (
        EDGES_CTE.replace("edges AS (", "edges_all AS (", 1)
        + f""",
edges AS (
    SELECT src, dst FROM edges_all
    WHERE {h32_sql("'colsub:' || CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR)")} % {COLOR_SUB_MOD} = 0
)"""
    )
    o["graph_coloring"] = coloring_oracle_sql(_color_edges_cte, iters=COLOR_ITERS)

    from gminer_spark.graph.linkpred import linkpred_auc_oracle_sql

    o["linkpred_auc"] = linkpred_auc_oracle_sql(_color_edges_cte, test_mod=5)

    from gminer_spark.graph.temporal import earliest_arrival_oracle_sql

    _tedges_cte = """tedges AS MATERIALIZED (
    SELECT DISTINCT CAST(a.l_partkey AS BIGINT) AS src,
                    CAST(b.l_partkey AS BIGINT) AS dst,
                    CAST(date_diff('day', DATE '1970-01-01',
                                   o.o_orderdate) AS BIGINT) AS t
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    JOIN orders o ON o.o_orderkey = a.l_orderkey
)"""
    o["temporal_reachability"] = earliest_arrival_oracle_sql(
        _tedges_cte, f"v.id % {PPR_SEED_MOD} = 0", num_iter=4
    )

    from gminer_spark.graph.temporal import latest_departure_oracle_sql

    o["temporal_departure"] = latest_departure_oracle_sql(
        _tedges_cte, f"v.id % {PPR_SEED_MOD} = 0", deadline=11_000,
        num_iter=4,
    )

    from gminer_spark.textops.pii import pii_scan_oracle_sql

    _pii_docs_cte = """docs AS (
    SELECT doc_id,
           text
           || CASE WHEN doc_id % 5 = 0
              THEN ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com' ELSE '' END
           || CASE WHEN doc_id % 7 = 0
              THEN ' call 555-867-5309' ELSE '' END
           || CASE WHEN doc_id % 11 = 0
              THEN ' from 192.168.1.42' ELSE '' END AS text
    FROM documents)"""
    o["pii_scan"] = pii_scan_oracle_sql(_pii_docs_cte)

    from gminer_spark.graph.community_metrics import (
        label_assortativity_oracle_sql,
    )

    o["brand_assortativity"] = (
        "WITH "
        + EDGES_CTE.strip()
        + ",\n"
        + SYM_CTE.strip()
        + ",\n"
        + label_assortativity_oracle_sql(
            "sym",
            "SELECT CAST(p_partkey AS BIGINT) AS id, p_brand AS label FROM part",
        )
    )

    from gminer_spark.graph.densest import densest_subgraph_oracle_sql

    # 16 unrolled rounds over the sparse subgraph (measured fixpoint
    # 10 at sf0.01, margin 6); loud compare failure if ever short
    o["densest_subgraph"] = densest_subgraph_oracle_sql(
        _color_edges_cte, thr_num=1, rounds=16
    )

    from gminer_spark.itemsets import frequent_itemsets_oracle_sql

    o["frequent_itemsets"] = frequent_itemsets_oracle_sql(
        "SELECT l_orderkey AS basket, l_partkey AS item FROM lineitem",
        min_support=2,
        max_k=3,
    )

    from gminer_spark.graph.structure import egonet_density_oracle_sql

    o["egonet_density"] = egonet_density_oracle_sql(EDGES_CTE)

    from gminer_spark.web.sitetree import site_tree_oracle_sql

    o["site_tree"] = site_tree_oracle_sql(
        """urls AS (
    SELECT 'https://s' || CAST(l_suppkey % 101 AS VARCHAR)
               || '.example.com/cat' || CAST(l_partkey % 13 AS VARCHAR)
               || '/item/' || CAST(l_partkey AS VARCHAR)
               || '?ln=' || CAST(l_linenumber AS VARCHAR)
               AS url
    FROM lineitem)""",
        depth=2,
    )

    from gminer_spark.itemsets import recommend_items_oracle_sql

    o["basket_recommendations"] = recommend_items_oracle_sql(
        "SELECT l_orderkey AS basket, l_partkey AS item FROM lineitem",
        """SELECT o_custkey AS "user", l_partkey AS item
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey""",
        min_support=2,
        min_confidence_micro=100_000,
        k=5,
    )

    # the maintained stream state must equal the ONE-SHOT pair table
    o["itemset_maintainer"] = frequent_itemsets_oracle_sql(
        "SELECT l_orderkey AS basket, l_partkey AS item FROM lineitem",
        min_support=2,
        max_k=2,
    )

    from gminer_spark.itemsets import association_rules_oracle_sql

    o["association_rules"] = association_rules_oracle_sql(
        "SELECT l_orderkey AS basket, l_partkey AS item FROM lineitem",
        min_support=2,
        min_confidence_micro=100_000,
    )

    from gminer_spark.graph.structure import edge_embeddedness_oracle_sql

    o["edge_embeddedness"] = edge_embeddedness_oracle_sql(EDGES_CTE)

    from gminer_spark.graph.quotient import quotient_graph_oracle_sql

    o["community_quotient"] = quotient_graph_oracle_sql(
        EDGES_CTE, lpa_oracle_sql()
    )

    from gminer_spark.graph.kcenter import k_center_oracle_sql

    o["k_center"] = k_center_oracle_sql(EDGES_CTE, k=4, depth=6)

    from gminer_spark.sim.mmr import mmr_oracle_sql

    o["mmr_selection"] = mmr_oracle_sql(query_id=0, k=6)

    from gminer_spark.sim.mmr import rknn_oracle_sql

    o["rknn_counts"] = rknn_oracle_sql(k=5)

    from gminer_spark.streaming.bursts import event_bursts_oracle_sql

    o["event_bursts"] = event_bursts_oracle_sql(factor=3, m=3, min_count=5)

    from gminer_spark.streaming.bursts import (
        last_touch_attribution_oracle_sql,
    )

    o["event_attribution"] = last_touch_attribution_oracle_sql()

    from gminer_spark.streaming.bursts import (
        first_touch_attribution_oracle_sql,
    )

    o["event_attribution_first"] = first_touch_attribution_oracle_sql()

    from gminer_spark.graph.sssp import widest_paths_oracle_sql

    _sssp_wedges = """
edges AS (
    SELECT CAST(a.l_partkey AS BIGINT) AS src,
           CAST(b.l_partkey AS BIGINT) AS dst,
           COUNT(*) AS w
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
)"""

    # 10 unrolled max-min rounds (measured fixpoint 7 at sf0.01)
    o["widest_paths"] = widest_paths_oracle_sql(
        _sssp_wedges.replace("edges AS (", "wedges AS (", 1),
        f"id % {PPR_SEED_MOD} = 0",
        iters=10,
    )

    from gminer_spark.textops.dedup import snm_pairs_oracle_sql

    o["dedup_snm"] = snm_pairs_oracle_sql(
        WORDS_CTE, SHINGLES_CTE, window=3, threshold_micro=300_000
    )

    from gminer_spark.textops.dedup import allpairs_jaccard_oracle_sql

    o["dedup_allpairs"] = allpairs_jaccard_oracle_sql(
        WORDS_CTE, SHINGLES_CTE, threshold_micro=300_000
    )

    from gminer_spark.graph.msf import minimum_spanning_forest_oracle_sql

    # 4 unrolled Boruvka rounds (measured fixpoint 2 at sf0.01) with
    # 6 pointer-doubling steps (measured max chain 5)
    o["msf_boruvka"] = minimum_spanning_forest_oracle_sql(
        _sssp_wedges.replace("edges AS (", "wedges AS (", 1),
        rounds=4,
        pointer_rounds=6,
    )

    from gminer_spark.graph.msf import single_linkage_oracle_sql

    o["single_linkage"] = single_linkage_oracle_sql(
        _sssp_wedges.replace("edges AS (", "wedges AS (", 1), threshold=1
    )

    from gminer_spark.textops.retrieval import hybrid_rrf_oracle_sql

    o["hybrid_rrf"] = hybrid_rrf_oracle_sql(
        WORDS_CTE, RETRIEVAL_TERMS, query_vec_id=0
    )

    from gminer_spark.graph.structure import forman_curvature_oracle_sql

    o["forman_curvature"] = forman_curvature_oracle_sql(EDGES_CTE)

    from gminer_spark.graph.percolation import bond_percolation_oracle_sql

    o["bond_percolation"] = bond_percolation_oracle_sql(
        EDGES_CTE, probs_pct=[20, 50, 80]
    )

    from gminer_spark.graph.louvain import louvain_moves_oracle_sql

    o["louvain_moves"] = louvain_moves_oracle_sql(EDGES_CTE, num_rounds=4)

    from gminer_spark.graph.ktruss import truss_community_oracle_sql

    o["truss_community"] = truss_community_oracle_sql(
        EDGES_CTE, k=KTRUSS_K, iters=KTRUSS_ITERS
    )

    from gminer_spark.graph.cpm import cpm_oracle_sql

    _cpm_edges_cte = (
        EDGES_CTE.replace("edges AS (", "edges_all8 AS (", 1)
        + f""",
edges AS (
    SELECT src, dst FROM edges_all8
    WHERE {h32_sql("'colsub:' || CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR)")} % 8 = 0
)"""
    )
    # 16 unrolled edge-relay rounds (measured fixpoint 11 at sf0.01)
    o["cpm_communities"] = cpm_oracle_sql(_cpm_edges_cte, rounds=16)

    from gminer_spark.graph.louvain import louvain_two_level_oracle_sql

    o["louvain_two_level"] = louvain_two_level_oracle_sql(
        EDGES_CTE, rounds1=4, rounds2=4
    )

    # modularity_compare: splice the LPA chain and the two-level
    # Louvain chain into ONE WITH scope (derived-table embedding is
    # impossible here: DuckDB rejects duplicate CTE aliases across
    # nested scopes and both chains define `edges`), then compute the
    # exact-integer global Q per labeling.
    _lpa_q = lpa_oracle_sql()
    _lpa_body, _sep, _lpa_tail = _lpa_q.rpartition("\nSELECT id, label FROM ")
    assert _sep, "unexpected LPA oracle shape"
    _lpa_final = _lpa_tail.strip()
    _lpa_ctes = _lpa_body[len("WITH ") :]
    _l2_q = louvain_two_level_oracle_sql(EDGES_CTE, rounds1=4, rounds2=4)
    _l2_body, _sep2, _ = _l2_q.rpartition("\nSELECT c1.id")
    assert _sep2, "unexpected two-level oracle shape"
    _l2_ctes_full = _l2_body[len("WITH ") :]
    _edges_frag = EDGES_CTE.strip() + ",\n"
    assert _l2_ctes_full.startswith(EDGES_CTE.strip())
    _l2_ctes = _l2_ctes_full[len(_edges_frag) :]

    def _q_block(prefix: str, labels_sql: str) -> str:
        return f"""{prefix}_vol AS MATERIALIZED (
    SELECT l.lab, CAST(SUM(d.deg) AS BIGINT) AS vol
    FROM ({labels_sql}) l JOIN qdeg d ON d.id = l.id
    GROUP BY l.lab),
{prefix}_int AS MATERIALIZED (
    SELECT a.lab, CAST(COUNT(*) AS BIGINT) AS i2
    FROM sym e
    JOIN ({labels_sql}) a ON a.id = e.src
    JOIN ({labels_sql}) b ON b.id = e.dst AND b.lab = a.lab
    GROUP BY a.lab),
{prefix}_q AS MATERIALIZED (
    SELECT CAST(COUNT(*) AS BIGINT) AS nc,
           CAST(SUM(COALESCE(i.i2, 0) * (SELECT m2 FROM qm2)
                    - v.vol * v.vol) AS BIGINT) AS qnum
    FROM {prefix}_vol v LEFT JOIN {prefix}_int i ON i.lab = v.lab)"""

    def _q_row(prefix: str, name: str) -> str:
        return f"""SELECT '{name}' AS method, nc AS n_communities,
       CAST(ROUND(CAST(qnum AS DOUBLE)
                  / (CAST((SELECT m2 FROM qm2) AS DOUBLE)
                     * CAST((SELECT m2 FROM qm2) AS DOUBLE))
                  * 1e6) AS BIGINT) AS modularity_micro
FROM {prefix}_q"""

    # partition_ari: same chain-splice as modularity_compare, but only
    # LPA + the one-level Louvain chain (no w_* level needed)
    _lv1_q = louvain_moves_oracle_sql_local = __import__(
        "gminer_spark.graph.louvain", fromlist=["louvain_moves_oracle_sql"]
    ).louvain_moves_oracle_sql(EDGES_CTE, num_rounds=4)
    _lv1_body, _s3, _ = _lv1_q.rpartition("\nSELECT id, CAST(community")
    assert _s3, "unexpected louvain oracle shape"
    _lv1_ctes_full = _lv1_body[len("WITH ") :]
    assert _lv1_ctes_full.startswith(EDGES_CTE.strip())
    _lv1_ctes = _lv1_ctes_full[len(EDGES_CTE.strip() + ",\n") :]

    o["partition_ari"] = (
        "WITH "
        + _lpa_ctes
        + ",\n"
        + _lv1_ctes
        + f""",
ari_ct AS MATERIALIZED (
    SELECT a.label AS la, b.community AS lb,
           CAST(COUNT(*) AS BIGINT) AS nij
    FROM {_lpa_final} a JOIN cm4 b ON b.id = a.id
    GROUP BY 1, 2),
ari_s AS MATERIALIZED (
    SELECT CAST(SUM(nij * (nij - 1) / 2) AS BIGINT) AS s_ij
    FROM ari_ct),
ari_a AS MATERIALIZED (
    SELECT CAST(SUM(ai * (ai - 1) / 2) AS BIGINT) AS s_a FROM (
        SELECT SUM(nij) AS ai FROM ari_ct GROUP BY la)),
ari_b AS MATERIALIZED (
    SELECT CAST(SUM(bj * (bj - 1) / 2) AS BIGINT) AS s_b FROM (
        SELECT SUM(nij) AS bj FROM ari_ct GROUP BY lb)),
ari_n AS MATERIALIZED (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) * (COUNT(*) - 1) / 2 AS BIGINT) AS cn2
    FROM {_lpa_final})
SELECT n.n, s.s_ij, a.s_a, b.s_b,
       CAST(ROUND(CAST(2 * s.s_ij * n.cn2 - 2 * a.s_a * b.s_b AS DOUBLE)
                  / CAST((a.s_a + b.s_b) * n.cn2 - 2 * a.s_a * b.s_b
                         AS DOUBLE) * 1e6) AS BIGINT) AS ari_micro
FROM ari_n n, ari_s s, ari_a a, ari_b b"""
    )

    o["modularity_compare"] = (
        "WITH "
        + _lpa_ctes
        + ",\n"
        + _l2_ctes
        + f""",
mcl2 AS MATERIALIZED (
    SELECT c1.id, l2.community
    FROM cm4 c1 JOIN wm4 l2 ON l2.id = c1.community),
qdeg AS MATERIALIZED (
    SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS deg
    FROM sym GROUP BY src),
qm2 AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS m2 FROM sym),
"""
        + _q_block("qa", f"SELECT id, label AS lab FROM {_lpa_final}")
        + ",\n"
        + _q_block("qb", "SELECT id, community AS lab FROM cm4")
        + ",\n"
        + _q_block("qc", "SELECT id, community AS lab FROM mcl2")
        + "\n"
        + _q_row("qa", "lpa")
        + "\nUNION ALL\n"
        + _q_row("qb", "louvain1")
        + "\nUNION ALL\n"
        + _q_row("qc", "louvain2")
    )

    from gminer_spark.graph.triangles import triad_census_oracle_sql

    o["triad_census"] = triad_census_oracle_sql(EDGES_CTE)

    from gminer_spark.graph.dag import dag_layers_oracle_sql

    # 26 unrolled MAX rounds (measured critical path 19 at sf0.01,
    # margin 7); loud compare failure if ever short
    o["dag_layers"] = dag_layers_oracle_sql(_color_edges_cte, rounds=26)

    from gminer_spark.graph.sweep import conductance_sweep_oracle_sql

    # the unrolled PPR chain embeds as a derived table (inner WITH
    # scope shadows the sweep's own edges/sym/deg CTEs)
    o["ppr_sweep_cut"] = conductance_sweep_oracle_sql(
        EDGES_CTE, ppr_oracle_sql(), sweep_n=200
    )

    from gminer_spark.graph.snapshot import (
        degree_delta_oracle_sql,
        snapshot_diff_oracle_sql,
    )

    _old_cte = f"""eold AS (
    SELECT DISTINCT CAST(a.l_partkey AS BIGINT) AS src,
                    CAST(b.l_partkey AS BIGINT) AS dst
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    JOIN orders o ON o.o_orderkey = a.l_orderkey
    WHERE o.o_orderdate < DATE '{SNAP_CUTOFF}')"""
    _new_cte = EDGES_CTE.replace("edges AS (", "enew AS (", 1)
    o["snapshot_diff"] = snapshot_diff_oracle_sql(_old_cte, _new_cte)
    o["snapshot_degree_delta"] = degree_delta_oracle_sql(_old_cte, _new_cte)

    from gminer_spark.graph.snapshot import hub_removal_oracle_sql

    _sub_sym_cte = """sym AS (
    SELECT src, dst FROM edges
    UNION
    SELECT dst AS src, src AS dst FROM edges
)"""
    _color32_edges_cte = _color_edges_cte.replace(
        f"% {COLOR_SUB_MOD} = 0", "% 32 = 0"
    )
    o["hub_robustness"] = hub_removal_oracle_sql(
        _color32_edges_cte, _sub_sym_cte, k_hubs=40
    )

    from gminer_spark.graph.matching import matching_oracle_sql

    o["maximal_matching"] = matching_oracle_sql(_color_edges_cte, iters=MATCH_ITERS)

    from gminer_spark.graph.butterflies import butterfly_oracle_sql

    _bfly_incid_cte = """incid AS (
    SELECT CAST(l_orderkey AS BIGINT) AS "left",
           CAST(l_partkey AS BIGINT) AS "right"
    FROM lineitem)"""
    o["butterflies"] = butterfly_oracle_sql(_bfly_incid_cte, max_right_deg=BFLY_MAXDEG)

    from gminer_spark.graph.butterflies import bitruss_oracle_sql

    o["bitruss2"] = bitruss_oracle_sql(
        _bfly_incid_cte, k=2, iters=BITRUSS_ITERS, max_right_deg=BFLY_MAXDEG
    )

    from gminer_spark.graph.trussness import trussness_oracle_sql

    _truss_edges_cte = (
        EDGES_CTE.replace("edges AS (", "edges_all AS (", 1)
        + f""",
edges AS (
    SELECT src, dst FROM edges_all
    WHERE {h32_sql("'trsub:' || CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR)")} % {TRUSS_SUB_MOD} = 0
)"""
    )
    o["truss_decomposition"] = trussness_oracle_sql(_truss_edges_cte, iters=TRUSS_ITERS)

    from gminer_spark.graph.cliques4 import k4_oracle_sql

    o["k4_per_vertex"] = k4_oracle_sql(_truss_edges_cte)

    o["link_features"] = f"""
WITH {EDGES_CTE.strip()}, {SYM_CTE.strip()},
deg AS MATERIALIZED (SELECT src AS id, COUNT(*) AS deg FROM sym GROUP BY src),
common AS MATERIALIZED (
    SELECT e.src, e.dst, COUNT(*) AS cn,
           SUM(CAST(1 AS DOUBLE) / dw.deg) AS ra
    FROM edges e
    JOIN sym a ON a.src = e.src
    JOIN sym b ON b.src = e.dst AND b.dst = a.dst
    JOIN deg dw ON dw.id = a.dst
    GROUP BY e.src, e.dst)
SELECT e.src, e.dst,
       CAST(COALESCE(c.cn, 0) AS BIGINT) AS cn,
       CAST(ROUND(CAST(COALESCE(c.cn, 0) AS DOUBLE)
                  / (du.deg + dv.deg - COALESCE(c.cn, 0)) * 1e6) AS BIGINT)
           AS jaccard_micro,
       CAST(ROUND(COALESCE(c.ra, 0.0) * 1e6) AS BIGINT) AS ra_micro
FROM edges e
LEFT JOIN common c ON c.src = e.src AND c.dst = e.dst
JOIN deg du ON du.id = e.src
JOIN deg dv ON dv.id = e.dst
"""

    o["transitivity"] = f"""
WITH {EDGES_CTE.strip()}, {SYM_CTE.strip()},
tri AS (
    SELECT COUNT(*) AS t
    FROM edges e1
    JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
    JOIN edges e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
w2 AS (
    SELECT SUM(deg * (deg - 1)) AS w FROM (
        SELECT COUNT(*) AS deg FROM sym GROUP BY src))
SELECT CAST(ROUND(CAST(6 AS DOUBLE) * tri.t * 1e6 / w2.w) AS BIGINT)
           AS transitivity_micro
FROM tri, w2
"""

    o["clustering_coeff"] = f"""
WITH {EDGES_CTE.strip()}, {SYM_CTE.strip()},
tri AS MATERIALIZED (
    SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
    FROM edges e1
    JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
    JOIN edges e3 ON e3.src = e1.dst AND e3.dst = e2.dst
),
corners AS (
    SELECT u AS id FROM tri UNION ALL SELECT v FROM tri UNION ALL SELECT w FROM tri
),
tpv AS (SELECT id, COUNT(*) AS t FROM corners GROUP BY id),
deg AS (SELECT src AS id, COUNT(*) AS deg FROM sym GROUP BY src)
SELECT d.id,
       CAST(CASE WHEN d.deg >= 2
                 THEN ROUND(CAST(2 AS DOUBLE) * COALESCE(t.t, 0)
                            / (d.deg * (d.deg - 1)) * 1e6)
                 ELSE 0 END AS BIGINT) AS lcc_micro
FROM deg d LEFT JOIN tpv t ON d.id = t.id
"""

    o["degree_assortativity"] = f"""
WITH {EDGES_CTE.strip()}, {SYM_CTE.strip()},
deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM sym GROUP BY src),
mom AS (
    SELECT COUNT(*) AS m,
           SUM(a.deg) AS sx, SUM(b.deg) AS sy,
           SUM(a.deg * b.deg) AS sxy,
           SUM(a.deg * a.deg) AS sxx,
           SUM(b.deg * b.deg) AS syy
    FROM sym s
    JOIN deg a ON a.src = s.src
    JOIN deg b ON b.src = s.dst)
SELECT CAST(ROUND(
    (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
    / SQRT((CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           * (CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) * 1e6) AS BIGINT)
    AS assortativity_micro
FROM mom
"""

    from gminer_spark.graph.structure import avg_neighbor_degree_oracle_sql

    o["avg_neighbor_degree"] = avg_neighbor_degree_oracle_sql(EDGES_CTE)

    from gminer_spark.graph.wl import wl_histogram_oracle_sql, wl_oracle_sql

    o["wl_colors"] = wl_oracle_sql(EDGES_CTE, rounds=3)
    o["wl_histogram"] = wl_histogram_oracle_sql(EDGES_CTE, rounds=3)

    from gminer_spark.graph.structure import rich_club_oracle_sql

    o["rich_club"] = rich_club_oracle_sql(EDGES_CTE)

    from gminer_spark.graph.rewire import rich_club_normalized_oracle_sql

    o["rich_club_normalized"] = rich_club_normalized_oracle_sql(
        EDGES_CTE, rounds=3, n_buckets=64
    )

    _rand40_hubs = f"""hubs AS MATERIALIZED (
    SELECT id FROM (SELECT DISTINCT src AS id FROM sym)
    ORDER BY {h32_sql("'rfail:' || CAST(id AS VARCHAR)")} ASC, id ASC
    LIMIT 40)"""
    o["random_robustness"] = hub_removal_oracle_sql(
        _color32_edges_cte, _sub_sym_cte, k_hubs=40, hubs_cte=_rand40_hubs
    )

    from gminer_spark.graph.features import feature_propagation_oracle_sql

    o["feature_agg_2hop"] = feature_propagation_oracle_sql(
        EDGES_CTE, "id % 1000", hops=2
    )

    from gminer_spark.graph.features import feature_minmax_oracle_sql

    o["feature_agg_2hop_minmax"] = feature_minmax_oracle_sql(
        EDGES_CTE, "id % 1000", hops=2
    )

    from gminer_spark.graph.mis import mis_oracle_sql

    o["mis"] = mis_oracle_sql(EDGES_CTE, iters=MIS_ITERS)

    from gminer_spark.graph.walks import random_walks_oracle_sql

    o["random_walks"] = random_walks_oracle_sql(
        EDGES_CTE, walk_len=3, walks_per_vertex=2
    )

    from gminer_spark.graph.walks import weighted_walks_oracle_sql

    _walk_wedges = """
wedges AS (
    SELECT CAST(a.l_partkey AS BIGINT) AS src,
           CAST(b.l_partkey AS BIGINT) AS dst,
           COUNT(*) AS w
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
)"""
    o["random_walks_weighted"] = weighted_walks_oracle_sql(
        _walk_wedges, walk_len=3, walks_per_vertex=1
    )

    from gminer_spark.graph.walks import node2vec_oracle_sql

    o["random_walks_node2vec"] = node2vec_oracle_sql(
        EDGES_CTE,
        walk_len=3,
        walks_per_vertex=1,
        ret_bias=4,
        in_bias=2,
        out_bias=1,
    )

    _n2v_base = o["random_walks_node2vec"]
    _n2v_ctes, _, _ = _n2v_base.partition("\nSELECT start, walk, CAST(0")
    _n2v_corpus = "\nUNION ALL\n".join(
        f"SELECT start, walk, CAST({t} AS BIGINT) AS step, vertex FROM w{t}"
        for t in range(4)
    )
    o["node2vec_skipgrams"] = f"""{_n2v_ctes},
corpus AS MATERIALIZED (
{_n2v_corpus}
)
SELECT a.vertex AS center, b.vertex AS context,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM corpus a JOIN corpus b
  ON a.start = b.start AND a.walk = b.walk
WHERE a.step <> b.step AND ABS(a.step - b.step) <= 2
GROUP BY 1, 2"""

    from gminer_spark.graph.walks import skipgram_pairs_oracle_sql

    o["walk_skipgrams"] = skipgram_pairs_oracle_sql(
        EDGES_CTE, walk_len=3, walks_per_vertex=2, window=2
    )

    from gminer_spark.graph.sssp import sssp_oracle_sql

    o["sssp_hops"] = sssp_oracle_sql(
        EDGES_CTE, f"id % {PPR_SEED_MOD} = 0", iters=SSSP_ITERS
    )
    # _sssp_wedges is defined above (widest_paths shares it)
    o["sssp_weighted"] = sssp_oracle_sql(
        _sssp_wedges, f"id % {PPR_SEED_MOD} = 0", iters=SSSP_ITERS, weighted=True
    )

    o["motif_heavy_wedges"] = """
WITH wedges AS (
    SELECT CAST(a.l_partkey AS BIGINT) AS src,
           CAST(b.l_partkey AS BIGINT) AS dst,
           COUNT(*) AS w
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
),
symw AS (
    SELECT src, dst, w FROM wedges
    UNION ALL SELECT dst AS src, src AS dst, w FROM wedges
)
SELECT s1.dst AS id, CAST(COUNT(*) AS BIGINT) AS heavy_wedges
FROM symw s1 JOIN symw s2 ON s1.dst = s2.src
WHERE s1.src < s2.dst AND s1.w >= 2 AND s2.w >= 2
GROUP BY s1.dst
"""

    o["motif_sink_fanin"] = f"""
WITH {EDGES_CTE.strip()}
SELECT e1.dst AS id, CAST(COUNT(*) AS BIGINT) AS fan_in
FROM edges e1
WHERE NOT EXISTS (SELECT 1 FROM edges e2 WHERE e2.src = e1.dst)
GROUP BY e1.dst
"""

    from gminer_spark.graph.ktruss import ktruss_oracle_sql

    o["ktruss"] = ktruss_oracle_sql(EDGES_CTE, k=KTRUSS_K, iters=KTRUSS_ITERS)

    o["motif_open_wedges"] = f"""
WITH {EDGES_CTE.strip()}, {SYM_CTE.strip()}
SELECT b AS id, COUNT(*) AS open_wedges
FROM (
    SELECT s1.src AS a, s1.dst AS b, s2.dst AS c
    FROM sym s1 JOIN sym s2 ON s2.src = s1.dst
    WHERE s1.src < s2.dst
      AND NOT EXISTS (
          SELECT 1 FROM sym e WHERE e.src = s1.src AND e.dst = s2.dst)
) GROUP BY b
"""

    o["vertex_pull"] = f"""
WITH {EDGES_CTE.strip()}, {SYM_CTE.strip()},
deg AS (SELECT src AS id, COUNT(*) AS degree FROM sym GROUP BY src),
seeds AS (SELECT id AS seed FROM deg ORDER BY degree DESC, id ASC LIMIT 5)
SELECT DISTINCT s.seed, e.dst AS pulled
FROM seeds s JOIN sym e ON e.src = s.seed
"""

    o["nb_owner_join"] = f"""
WITH {EDGES_CTE.strip()}
SELECT src, dst, CAST(dst % 8 AS INTEGER) AS dst_owner FROM edges
"""

    o["adj_intersect"] = f"""
WITH {EDGES_CTE.strip()}, {SYM_CTE.strip()}
SELECT e.src, e.dst, COUNT(*) AS common
FROM edges e
JOIN sym n1 ON n1.src = e.src
JOIN sym n2 ON n2.src = e.dst AND n2.dst = n1.dst
WHERE e.src <= 50
GROUP BY e.src, e.dst
"""

    o["csr_stats"] = f"""
WITH {EDGES_CTE.strip()}, {SYM_CTE.strip()}, {VERTS_CTE.strip()}
SELECT CAST(v.block_id AS INTEGER) AS block_id,
       CAST(COUNT(*) AS BIGINT) AS n_vertices,
       CAST(COALESCE(MAX(ec.n), 0) AS BIGINT) AS n_edges
FROM (SELECT id, id % 8 AS block_id FROM verts) v
LEFT JOIN (SELECT src % 8 AS block_id, COUNT(*) AS n
           FROM edges GROUP BY 1) ec
ON v.block_id = ec.block_id
GROUP BY v.block_id
"""

    o["agg_partial_final"] = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       COUNT(*) AS n_rows
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""

    o["agg_max_bound"] = """
SELECT o_orderstatus,
       ROUND(MAX(o_totalprice), 2) AS max_price,
       ROUND(MIN(o_totalprice), 2) AS min_price
FROM orders GROUP BY o_orderstatus
"""

    o["count_by_key"] = (
        "SELECT o_orderpriority, COUNT(*) AS n FROM orders GROUP BY o_orderpriority"
    )

    o["set_union_agg"] = """
SELECT c_nationkey,
       array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments,
       CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_segments
FROM customer GROUP BY c_nationkey
"""

    o["combiner_min"] = f"""
WITH {EDGES_CTE.strip()}
SELECT dst, MIN(src) AS min_msg FROM edges GROUP BY dst
"""

    o["topk_per_group"] = """
SELECT o_orderpriority, o_orderkey, ROUND(o_totalprice, 2) AS price,
       CAST(rn AS BIGINT) AS rn
FROM (
    SELECT o_orderpriority, o_orderkey, o_totalprice,
           ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                              ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
    FROM orders) x
WHERE rn <= 3
"""

    o["degree_topk"] = f"""
WITH {EDGES_CTE.strip()},
outd AS (SELECT src AS id, COUNT(*) AS out_deg FROM edges GROUP BY src),
ind  AS (SELECT dst AS id, COUNT(*) AS in_deg  FROM edges GROUP BY dst),
deg AS (
    SELECT COALESCE(outd.id, ind.id) AS id,
           CAST(COALESCE(out_deg, 0) AS BIGINT) AS out_deg,
           CAST(COALESCE(in_deg, 0) AS BIGINT) AS in_deg,
           CAST(COALESCE(out_deg, 0) + COALESCE(in_deg, 0) AS BIGINT) AS degree
    FROM outd FULL OUTER JOIN ind ON outd.id = ind.id)
SELECT id, out_deg, in_deg, degree FROM deg
ORDER BY degree DESC, id ASC LIMIT 20
"""

    o["pattern_match"] = f"""
WITH {EDGES_CTE.strip()}, {SYM_CTE.strip()}, {VERTS_CTE.strip()},
lab AS (
    SELECT id, CASE id % 29 WHEN 0 THEN 'a' WHEN 1 THEN 'b'
                            WHEN 2 THEN 'c' WHEN 3 THEN 'd' END AS lbl
    FROM verts WHERE id % 29 IN (0, 1, 2, 3)
)
SELECT COUNT(*) AS n_matches FROM (
    SELECT DISTINCT a.id AS va, b.id AS vb, c.id AS vc, d.id AS vd
    FROM lab a
    JOIN sym eab ON eab.src = a.id JOIN lab b ON b.id = eab.dst AND b.lbl = 'b'
    JOIN sym eac ON eac.src = a.id JOIN lab c ON c.id = eac.dst AND c.lbl = 'c'
    JOIN sym ebc ON ebc.src = b.id AND ebc.dst = c.id
    JOIN sym ebd ON ebd.src = b.id JOIN lab d ON d.id = ebd.dst AND d.lbl = 'd'
    WHERE a.lbl = 'a' AND d.id != a.id AND d.id != c.id
) m
"""

    o["partition_hash_quality"] = f"""
WITH {EDGES_CTE.strip()}
SELECT CAST(ROUND(SUM(CASE WHEN src % 8 != dst % 8 THEN 1 ELSE 0 END)
            * 1e6 / COUNT(*)) AS BIGINT) AS cross_ratio_micro
FROM edges
"""

    bpe = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
    o["text_tokens"] = f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(CASE WHEN trim(text) = '' THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT)
           AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{bpe}')) AS BIGINT) AS n_bpe_tokens
FROM documents
"""

    o["text_quality"] = """
WITH base AS (
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CASE WHEN trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
           len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
           len(regexp_extract_all(lower(text), '\\b(the|and|is|of|to|in)\\b'))
               AS n_stop
    FROM documents)
SELECT doc_id, n_chars,
       ROUND(n_punct * 1.0 / GREATEST(n_chars, 1), 6) AS punct_ratio,
       ROUND(n_stop * 1.0 / GREATEST(n_tokens, 1), 6) AS stopword_ratio,
       ROUND((1.0 - ROUND(n_punct * 1.0 / GREATEST(n_chars, 1), 6))
             * LEAST(1.0, n_tokens / 50.0), 6) AS quality
FROM base
"""

    o["text_lang"] = """
WITH base AS (
    SELECT doc_id, lang,
           len(regexp_extract_all(lower(text), '\\b(the|and|is|of|to|in)\\b')) AS en,
           len(regexp_extract_all(lower(text),
               '\\b(der|die|das|und|ist|nicht)\\b')) AS de
    FROM documents)
SELECT doc_id, lang,
       CASE WHEN en > de THEN 'en' WHEN de > en THEN 'de' ELSE 'unk' END
           AS predicted_lang
FROM base
"""

    o["text_fingerprint"] = f"""
WITH {WORDS_CTE.strip()},
{SHINGLES_CTE.strip()},
fp AS (
    SELECT doc_id, MIN({h32_sql("shingle")}) AS fingerprint
    FROM shingles GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(fp.fingerprint, {h32_sql("d.text")}) AS fingerprint
FROM documents d LEFT JOIN fp ON d.doc_id = fp.doc_id
"""

    from gminer_spark.textops.analysis import repetition_stats_oracle_sql

    o["text_repetition"] = repetition_stats_oracle_sql()

    from gminer_spark.textops.corpus import (
        chunk_documents_oracle_sql,
        contamination_oracle_sql,
        dataset_split_oracle_sql,
    )

    from gminer_spark.textops.corpus import training_corpus_oracle_sql

    o["training_corpus"] = training_corpus_oracle_sql()

    o["corpus_split"] = dataset_split_oracle_sql()
    o["corpus_chunks"] = chunk_documents_oracle_sql(chunk_tokens=64, overlap=8)
    o["corpus_contamination"] = contamination_oracle_sql(
        n=8, bench_pred="doc_id % 50 = 0"
    )

    from gminer_spark.textops.corpus import top_ngrams_oracle_sql

    o["corpus_top_ngrams"] = top_ngrams_oracle_sql(n=2, k=100)

    from gminer_spark.textops.cooccur import cooccurrence_oracle_sql

    o["text_cooccurrence"] = cooccurrence_oracle_sql(
        WORDS_CTE, window=3, k=100, min_count=2
    )

    from gminer_spark.textops.retrieval import bm25_oracle_sql

    o["corpus_retrieval"] = bm25_oracle_sql(WORDS_CTE, RETRIEVAL_TERMS, k=50)

    from gminer_spark.textops.retrieval import doc_keywords_oracle_sql

    o["doc_keywords"] = doc_keywords_oracle_sql(WORDS_CTE, k=5)

    from gminer_spark.textops.analysis import vocab_growth_oracle_sql

    o["vocab_growth"] = vocab_growth_oracle_sql(WORDS_CTE, n_buckets=10)

    o["dedup_containment"] = f"""
WITH {WORDS_CTE.strip()},
{SHINGLES_CTE.strip()},
rare AS (
    SELECT shingle FROM shingles GROUP BY shingle HAVING COUNT(*) <= 100),
sh AS (
    SELECT s.doc_id, s.shingle FROM shingles s JOIN rare USING (shingle)),
szs AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
    FROM sh a JOIN sh b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id),
bidir AS (
    SELECT doc_a AS doc_src, doc_b AS doc_ref, i FROM inter
    UNION ALL
    SELECT doc_b AS doc_src, doc_a AS doc_ref, i FROM inter)
SELECT doc_src, doc_ref,
       ROUND(i * 1.0 / s.sz, 6) AS containment
FROM bidir b JOIN szs s ON b.doc_src = s.doc_id
WHERE ROUND(i * 1.0 / s.sz, 6) >= 0.5
"""

    from gminer_spark.textops.boilerplate import (
        boilerplate_ratio_oracle_sql,
        boilerplate_shingles_oracle_sql,
    )

    _shingles_full_cte = f"{WORDS_CTE.strip()}, {SHINGLES_CTE.strip()}"
    # frac_pct 8: the synthetic corpus has no real templates (max
    # within-source df is 3/25), so a high threshold value-checks an
    # empty set; 8% keeps the check populated (~600 rows at sf0.01)
    o["boilerplate_shingles"] = boilerplate_shingles_oracle_sql(
        _shingles_full_cte, frac_pct=8, min_df=2
    )
    o["boilerplate_ratio"] = boilerplate_ratio_oracle_sql(
        _shingles_full_cte, frac_pct=8, min_df=2
    )

    from gminer_spark.textops.corpus import (
        pack_token_stream_oracle_sql,
        stratified_sample_oracle_sql,
    )

    o["corpus_pack"] = pack_token_stream_oracle_sql(ctx_len=128, n_shards=8)
    o["corpus_stratified_sample"] = stratified_sample_oracle_sql(
        rates={"en": 250, "zh": 1000}, default_permille=500
    )

    from gminer_spark.textops.corpus import select_by_token_budget_oracle_sql

    o["corpus_token_budget"] = select_by_token_budget_oracle_sql(
        budget_tokens=10_000
    )

    o["dedup_exact"] = """
SELECT MIN(doc_id) AS canonical_doc_id, COUNT(*) AS n_dups,
       md5(text) AS text_md5
FROM documents GROUP BY md5(text) HAVING COUNT(*) > 1
"""

    o["dedup_jaccard"] = f"""
WITH {WORDS_CTE.strip()},
{SHINGLES_CTE.strip()},
rare AS (
    SELECT shingle FROM shingles GROUP BY shingle HAVING COUNT(*) <= 100),
sh AS (
    SELECT s.doc_id, s.shingle FROM shingles s JOIN rare USING (shingle)),
szs AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
    FROM sh a JOIN sh b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b,
       ROUND(i * 1.0 / (x.sz + y.sz - i), 6) AS jaccard
FROM inter
JOIN szs x ON doc_a = x.doc_id
JOIN szs y ON doc_b = y.doc_id
WHERE ROUND(i * 1.0 / (x.sz + y.sz - i), 6) >= 0.8
"""

    sig4 = ",\n           ".join(
        "MIN({h}) AS mh_{i}".format(h=h32_sql(f"'{i}:' || shingle"), i=i)
        for i in range(4)
    )
    o["minhash_signatures"] = f"""
WITH {WORDS_CTE.strip()},
{SHINGLES_CTE.strip()}
SELECT doc_id,
       {sig4}
FROM shingles GROUP BY doc_id
"""

    # MinHash LSH: signatures are md5-derived → bit-identical across engines
    mh_mins = ",\n           ".join(
        "MIN({h}) AS mh_{i}".format(h=h32_sql(f"'{i}:' || shingle"), i=i)
        for i in range(16)
    )
    band_exprs = []
    for b in range(4):
        cols = " || '_' || ".join(
            f"CAST(mh_{b * 4 + r} AS VARCHAR)" for r in range(4)
        )
        band_exprs.append(f"SELECT doc_id, {b} AS band, {cols} AS bsig FROM sig")
    bands_union = "\n    UNION ALL\n    ".join(band_exprs)
    o["dedup_minhash_lsh"] = f"""
WITH {WORDS_CTE.strip()},
{SHINGLES_CTE.strip()},
sig AS (
    SELECT doc_id,
           {mh_mins}
    FROM shingles GROUP BY doc_id),
buckets AS (
    {bands_union}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM buckets a JOIN buckets b
  ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
"""

    o["dedup_clusters"] = f"""
WITH RECURSIVE {WORDS_CTE.strip()},
{SHINGLES_CTE.strip()},
sig AS MATERIALIZED (
    SELECT doc_id,
           {mh_mins}
    FROM shingles GROUP BY doc_id),
buckets AS MATERIALIZED (
    {bands_union}
),
pairs AS MATERIALIZED (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM buckets a JOIN buckets b
      ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
),
psym AS MATERIALIZED (
    SELECT doc_a AS s, doc_b AS d FROM pairs
    UNION SELECT doc_b AS s, doc_a AS d FROM pairs
),
reach(id, label) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT p.d, r.label FROM reach r JOIN psym p ON p.s = r.id
)
SELECT CAST(id AS BIGINT) AS doc_id,
       CAST(MIN(label) AS BIGINT) AS cluster,
       id = MIN(label) AS is_canonical
FROM reach GROUP BY id
"""

    # Streaming admission twin: the same sig/bucket CTEs run TWICE —
    # phase-1 clusters admit canonicals; phase-2 drops band collisions
    # with phase-1 admits, then clusters the remainder.  Sub-shingle
    # docs (no sig row) take the exact md5(text) path: min doc_id per
    # hash within a batch, cross-batch rejection via the admitted-hash
    # index — mirroring DedupMaintainer's exact_index (unexercised at
    # sf0.01: every document has >= shingle_n tokens).
    o["dedup_admission"] = f"""
WITH RECURSIVE {WORDS_CTE.strip()},
{SHINGLES_CTE.strip()},
sig AS MATERIALIZED (
    SELECT doc_id,
           {mh_mins}
    FROM shingles GROUP BY doc_id),
buckets AS MATERIALIZED (
    {bands_union}
),
sh1 AS MATERIALIZED (
    SELECT doc_id, {h32_sql('text')} AS th FROM documents
    WHERE doc_id % 2 = 0 AND doc_id NOT IN (SELECT doc_id FROM sig)),
adm1s AS MATERIALIZED (
    SELECT MIN(doc_id) AS id, th FROM sh1 GROUP BY th),
sh2 AS MATERIALIZED (
    SELECT doc_id, {h32_sql('text')} AS th FROM documents
    WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT doc_id FROM sig)),
adm2s AS MATERIALIZED (
    SELECT MIN(doc_id) AS id FROM sh2
    WHERE th NOT IN (SELECT th FROM adm1s) GROUP BY th),
b1 AS MATERIALIZED (SELECT * FROM buckets WHERE doc_id % 2 = 0),
p1 AS MATERIALIZED (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM b1 a JOIN b1 b
      ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
p1sym AS MATERIALIZED (
    SELECT doc_a AS s, doc_b AS d FROM p1
    UNION SELECT doc_b, doc_a FROM p1),
reach1(id, label) AS (
    SELECT doc_id, doc_id FROM documents
    WHERE doc_id % 2 = 0 AND doc_id IN (SELECT doc_id FROM sig)
    UNION
    SELECT p.d, r.label FROM reach1 r JOIN p1sym p ON p.s = r.id),
adm1 AS MATERIALIZED (
    SELECT id FROM reach1 GROUP BY id HAVING id = MIN(label)),
idx1 AS MATERIALIZED (
    SELECT DISTINCT b.band, b.bsig FROM b1 b JOIN adm1 ON b.doc_id = adm1.id),
b2 AS MATERIALIZED (SELECT * FROM buckets WHERE doc_id % 2 = 1),
hit2 AS MATERIALIZED (
    SELECT DISTINCT b.doc_id
    FROM b2 b JOIN idx1 i ON b.band = i.band AND b.bsig = i.bsig),
fresh2 AS MATERIALIZED (
    SELECT DISTINCT doc_id FROM documents
    WHERE doc_id % 2 = 1 AND doc_id IN (SELECT doc_id FROM sig)
      AND doc_id NOT IN (SELECT doc_id FROM hit2)),
b2f AS MATERIALIZED (
    SELECT b.* FROM b2 b JOIN fresh2 f ON b.doc_id = f.doc_id),
p2 AS MATERIALIZED (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM b2f a JOIN b2f b
      ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
p2sym AS MATERIALIZED (
    SELECT doc_a AS s, doc_b AS d FROM p2
    UNION SELECT doc_b, doc_a FROM p2),
reach2(id, label) AS (
    SELECT doc_id, doc_id FROM fresh2
    UNION
    SELECT p.d, r.label FROM reach2 r JOIN p2sym p ON p.s = r.id),
adm2 AS (SELECT id FROM reach2 GROUP BY id HAVING id = MIN(label))
SELECT CAST(id AS BIGINT) AS doc_id, 1 AS batch FROM adm1
UNION ALL
SELECT CAST(id AS BIGINT) AS doc_id, 1 AS batch FROM adm1s
UNION ALL
SELECT CAST(id AS BIGINT) AS doc_id, 2 AS batch FROM adm2
UNION ALL
SELECT CAST(id AS BIGINT) AS doc_id, 2 AS batch FROM adm2s
"""

    # SimHash: 16-bit md5 bit votes; all-pairs oracle (the slice-bucket
    # LSH in the engine is exact for hamming<=3 by pigeonhole).
    votes = ",\n           ".join(
        f"SUM((({h32_sql('word')} >> {i}) & 1) * 2 - 1) AS v_{i}"
        for i in range(16)
    )
    sig_sum = " + ".join(
        f"(CASE WHEN v_{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(16)
    )
    o["dedup_simhash"] = f"""
WITH w AS (
    SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS word
    FROM documents),
w2 AS (SELECT doc_id, word FROM w WHERE word != ''),
votes AS (
    SELECT doc_id,
           {votes}
    FROM w2 GROUP BY doc_id),
sig AS (SELECT doc_id, CAST({sig_sum} AS BIGINT) AS simhash FROM votes)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""

    o["ann_cosine"] = """
WITH q AS (
    SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
    FROM embeddings WHERE vec_id < 10),
pairs AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           ROUND(list_dot_product(q.qv, CAST(e.embedding AS DOUBLE[]))
                 / (sqrt(list_dot_product(q.qv, q.qv))
                    * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                            CAST(e.embedding AS DOUBLE[])))), 6)
               AS cos
    FROM q CROSS JOIN embeddings e WHERE e.vec_id != q.query_id)
SELECT query_id, neighbor_id, cos FROM (
    SELECT query_id, neighbor_id, cos,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id ASC) AS rn
    FROM pairs) x
WHERE rn <= 5
"""

    o["dedup_embedding"] = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
pairs AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
    FROM e a JOIN e b ON a.vec_id < b.vec_id)
SELECT vec_a, vec_b, cos FROM pairs WHERE cos >= 0.35
"""

    o["embedding_dedup_clusters"] = """
WITH RECURSIVE e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
pairs AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE ROUND(list_dot_product(a.v, b.v)
                / (sqrt(list_dot_product(a.v, a.v))
                   * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.35),
psym AS (
    SELECT DISTINCT s, d FROM (
        SELECT vec_a AS s, vec_b AS d FROM pairs
        UNION ALL SELECT vec_b, vec_a FROM pairs)),
reach(id, label) AS (
    SELECT vec_id, vec_id FROM embeddings
    UNION
    SELECT p.d, r.label FROM reach r JOIN psym p ON p.s = r.id)
SELECT CAST(id AS BIGINT) AS vec_id,
       CAST(MIN(label) AS BIGINT) AS cluster,
       id = MIN(label) AS is_canonical
FROM reach GROUP BY id
"""

    from gminer_spark.sim.kmeans import (
        kmeans_oracle_sql,
        kmeans_representatives_oracle_sql,
    )

    o["kmeans_embeddings"] = kmeans_oracle_sql(8, 3)

    from gminer_spark.sim.kmeans import kmeans_purity_oracle_sql

    o["kmeans_purity"] = kmeans_purity_oracle_sql(k=8, num_iter=3)

    from gminer_spark.sim.kmeans import kmeans_silhouette_oracle_sql

    o["kmeans_silhouette"] = kmeans_silhouette_oracle_sql(k=8, num_iter=3)
    o["kmeans_reps"] = kmeans_representatives_oracle_sql(8, 3)

    o["multimodal_meta"] = """
SELECT doc_id, 'text/plain' AS mime,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS checksum
FROM documents
"""

    from gminer_spark.multimodal.binary import decode_media_oracle_sql

    o["multimodal_decode"] = decode_media_oracle_sql()

    o["events_window"] = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS ws,
       event_type, COUNT(*) AS n,
       ROUND(ROUND(SUM(value), 6), 4) AS total_value
FROM events GROUP BY 1, 2
"""

    from gminer_spark.streaming.journeys import (
        event_transitions_oracle_sql,
        funnel_oracle_sql,
    )

    o["event_transitions"] = event_transitions_oracle_sql()
    o["event_funnel"] = funnel_oracle_sql(FUNNEL_STEPS)

    _beh_ctes = f"""ordered AS MATERIALIZED (
    SELECT user_id, event_type,
           LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
    FROM events),
bedges AS MATERIALIZED (
    SELECT {h32_sql("prev_type")} AS src, {h32_sql("event_type")} AS dst,
           CAST(COUNT(*) AS DOUBLE) AS w
    FROM ordered
    WHERE prev_type IS NOT NULL AND prev_type <> event_type
    GROUP BY 1, 2),
btypes AS MATERIALIZED (
    SELECT DISTINCT etype, {h32_sql("etype")} AS id FROM (
        SELECT prev_type AS etype FROM ordered
        WHERE prev_type IS NOT NULL AND prev_type <> event_type
        UNION ALL
        SELECT event_type FROM ordered
        WHERE prev_type IS NOT NULL AND prev_type <> event_type)),
deg AS MATERIALIZED (
    SELECT v.id, COALESCE(o.s, 0.0) AS out_deg
    FROM btypes v LEFT JOIN (
        SELECT src, SUM(w) AS s FROM bedges GROUP BY src) o
    ON v.id = o.src),
n AS (SELECT COUNT(*) AS cnt FROM btypes),
r0 AS (SELECT d.id, 1.0/(SELECT cnt FROM n) AS rank, d.out_deg FROM deg d)"""
    _beh_iters = []
    for _k in range(1, PR_ITERS + 1):
        _p = f"r{_k - 1}"
        _beh_iters.append(
            f"""r{_k} AS MATERIALIZED (
    SELECT d.id,
           (1.0 - 0.85)/(SELECT cnt FROM n)
           + 0.85 * (
               COALESCE(c.contrib, 0.0)
               + (SELECT COALESCE(SUM(rank), 0.0) FROM {_p} WHERE out_deg = 0)
                 / (SELECT cnt FROM n)
           ) AS rank,
           d.out_deg
    FROM deg d LEFT JOIN (
        SELECT e.dst, SUM(r.rank * e.w / r.out_deg) AS contrib
        FROM bedges e JOIN {_p} r ON e.src = r.id
        GROUP BY e.dst) c
    ON d.id = c.dst)"""
        )
    o["behavior_pagerank"] = (
        "WITH "
        + _beh_ctes
        + ",\n"
        + ",\n".join(_beh_iters)
        + f"""
SELECT v.etype, CAST(ROUND(r.rank * 1e6) AS BIGINT) AS rank_micro
FROM r{PR_ITERS} r JOIN btypes v ON v.id = r.id"""
    )

    o["events_dedup"] = """
WITH ranked AS (
    SELECT user_id, event_type, date_trunc('hour', ts) AS b, event_id, value,
           ROW_NUMBER() OVER (PARTITION BY user_id, event_type,
                                           date_trunc('hour', ts)
                              ORDER BY ts, event_id) AS rn
    FROM events)
SELECT user_id, event_type,
       strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket,
       event_id, ROUND(value, 4) AS value
FROM ranked WHERE rn = 1
"""

    o["events_sessions"] = """
WITH marked AS (
    SELECT user_id, ts, event_id,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sess AS (
    SELECT user_id, ts,
           CAST(SUM(new_session) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_id
    FROM marked)
SELECT user_id, session_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS ss,
       COUNT(*) AS n_events
FROM sess GROUP BY user_id, session_id
"""

    # FocusCO: expand/contract iteration is not SQL-shaped, so the
    # DuckDB side reads a frozen expectation computed by the NAIVE
    # literal focusCO.cpp transcription (tests/test_focusco.py) over
    # the same sf0.01 parquet inputs — an independent second
    # implementation, regenerated by tools/make_focusco_fixture.py.
    # Valid at sf0.01 only (the driver's comparison scale).
    _focusco_fixture = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "..",
        "tests",
        "oracle",
        "focusco_expected_sf001.parquet",
    )
    o["focusco"] = (
        "SELECT cluster, outlier, phi_micro, CAST(size AS INT) AS size "
        f"FROM read_parquet('{os.path.abspath(_focusco_fixture)}')"
    )

    return o
