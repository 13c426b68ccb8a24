"""Mint the hash-partitioned edge table from extracted links.

Replaces the reference's partitioning pipeline output — text files
with owner ids inlined per adjacency entry
(/root/reference/partition/BDGPartitioner.tpp:339-350).  Ownership
here is never materialized: ids are ``xxhash64`` of the normalized
url (JVM-side, no Python), and a row's partition is a pure function
``pmod(hash(src), N)`` applied by the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gminer_spark.web.extract import links_table


def url_ids(links: DataFrame) -> DataFrame:
    """Distinct url → id mapping (id = xxhash64(url))."""
    urls = (
        links.select(F.col("src_url").alias("url"))
        .unionByName(links.select(F.col("dst_url").alias("url")))
        .distinct()
    )
    return urls.select("url", F.xxhash64("url").alias("id"))


def edges_from_links(
    links: DataFrame, canonicalize: bool = False, n_partitions: int | None = None
) -> DataFrame:
    """links(src_url, dst_url) → edges(src, dst): hashed ids, self-loops
    dropped, duplicates collapsed; optionally canonicalized src<dst.

    The dedup's partial aggregation is the map-side combine; the final
    ``repartition(src)`` realizes the hash partitioning the reference
    bakes into its data files.
    """
    e = links.select(
        F.xxhash64("src_url").alias("src"), F.xxhash64("dst_url").alias("dst")
    ).where(F.col("src") != F.col("dst"))
    if canonicalize:
        e = e.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
    e = e.distinct()
    if n_partitions:
        e = e.repartition(n_partitions, "src")
    return e


def pages_to_edges(pages: DataFrame, canonicalize: bool = False) -> DataFrame:
    """Full spine: pages → links → edges."""
    return edges_from_links(links_table(pages), canonicalize=canonicalize)


def host_of(url_col):
    """Lowercased host of an http(s) url — one JVM regexp, no UDF."""
    return F.lower(F.regexp_extract(url_col, "^https?://([^/?#]+)", 1))


def host_graph(links: DataFrame) -> DataFrame:
    """(src_host, dst_host, n_links, n_src_pages) — the domain-level
    link graph: cross-host links rolled up per host pair, with the
    count of distinct linking pages.  Same-host (navigation) links and
    non-http(s) rows are dropped.

    This is the web-structure rollup run before host-level ranking /
    spam analysis: the page graph is O(trillions) of edges at 100 TB,
    the host graph O(millions) — the aggregation is a single
    map-side-combinable groupBy keyed by (src_host, dst_host), and the
    distinct-page count rides the same shuffle (partial distinct).
    Reference analog: GMiner aggregates per-block edge stats the same
    way before bin-packing (/root/reference/partition/
    BDGPartitioner.tpp:139-235).
    """
    h = links.select(
        host_of(F.col("src_url")).alias("src_host"),
        host_of(F.col("dst_url")).alias("dst_host"),
        "src_url",
    )
    return (
        h.where(
            (F.col("src_host") != "")
            & (F.col("dst_host") != "")
            & (F.col("src_host") != F.col("dst_host"))
        )
        .groupBy("src_host", "dst_host")
        .agg(
            F.count("*").cast("long").alias("n_links"),
            F.countDistinct("src_url").cast("long").alias("n_src_pages"),
        )
    )


def anchor_stats(anchors: DataFrame) -> DataFrame:
    """Per-target anchor-text rollup over ``anchors(src_url, dst_url,
    anchor)`` → (dst_url, n_anchors, n_unique_anchors, n_src_pages,
    top_anchor, top_anchor_n).

    ``top_anchor`` is the most frequent anchor text pointing at the
    target, tie-broken lexicographically (a total order — determinism
    under any partitioning).  Anchor text describes the TARGET page,
    so this is aggregated per ``dst_url``: the classic signal for
    ranking features and for training-corpus text on pages whose own
    extraction is poor (link-graph ∩ webtext).

    Scale posture: both aggregates shuffle on ``dst_url`` (map-side
    combinable counts; the distincts ride partial aggregation), the
    window partition is one target's DISTINCT anchor set (bounded by
    vocabulary, not in-degree — a hub with 10^6 in-links but 40
    distinct anchor strings sorts 40 rows), and the final join is
    co-partitioned on the shared ``dst_url`` key.
    """
    from pyspark.sql import Window

    per_pair = anchors.groupBy("dst_url", "anchor").agg(
        F.count("*").cast("long").alias("cnt")
    )
    w = Window.partitionBy("dst_url").orderBy(
        F.col("cnt").desc(), F.col("anchor").asc()
    )
    top = (
        per_pair.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "dst_url",
            F.col("anchor").alias("top_anchor"),
            F.col("cnt").alias("top_anchor_n"),
        )
    )
    tot = anchors.groupBy("dst_url").agg(
        F.count("*").cast("long").alias("n_anchors"),
        F.countDistinct("anchor").cast("long").alias("n_unique_anchors"),
        F.countDistinct("src_url").cast("long").alias("n_src_pages"),
    )
    return tot.join(top, on="dst_url").select(
        "dst_url",
        "n_anchors",
        "n_unique_anchors",
        "n_src_pages",
        "top_anchor",
        "top_anchor_n",
    )


def anchor_stats_oracle_sql(anchors_cte: str) -> str:
    """DuckDB witness over any CTE ``anchors(src_url, dst_url, anchor)``."""
    return f"""
WITH {anchors_cte},
per_pair AS (
    SELECT dst_url, anchor, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM anchors GROUP BY dst_url, anchor),
top AS (
    SELECT dst_url, anchor AS top_anchor, cnt AS top_anchor_n,
           ROW_NUMBER() OVER (PARTITION BY dst_url
                              ORDER BY cnt DESC, anchor ASC) AS rn
    FROM per_pair),
tot AS (
    SELECT dst_url,
           CAST(COUNT(*) AS BIGINT) AS n_anchors,
           CAST(COUNT(DISTINCT anchor) AS BIGINT) AS n_unique_anchors,
           CAST(COUNT(DISTINCT src_url) AS BIGINT) AS n_src_pages
    FROM anchors GROUP BY dst_url)
SELECT t.dst_url, t.n_anchors, t.n_unique_anchors, t.n_src_pages,
       p.top_anchor, p.top_anchor_n
FROM tot t JOIN top p ON p.dst_url = t.dst_url AND p.rn = 1
"""


def resolve_redirects(redirects: DataFrame, max_rounds: int = 32) -> DataFrame:
    """Resolve every redirect source to its terminal target →
    ``(src_url, final_url, hops)``, one row per redirect source.

    The crawl-normalization primitive: before link extraction and
    dedup, every url that 30x-redirects must be replaced by its final
    target or the edge table splits one logical page across aliases.
    Input is any ``(src_url, dst_url)`` table; it is normalized to a
    FUNCTION first (min dst per src — a deterministic total-order pick
    if the crawl recorded conflicting redirects) and self-redirects
    are dropped.

    Pointer doubling (path halving): each round composes the map with
    itself, so a chain of depth d resolves in ⌈log₂ d⌉ rounds — at
    web scale that is ~5 joins for depth-32 chains instead of 32
    sequential ones.  Each round is ONE self-join shuffled on the
    pointer key plus ONE fused action (lazy plan barrier +
    convergence count, :func:`gminer_spark.graph.superstep.fixpoint`);
    the state is multi-referenced per round, hence a barrier instead of
    ``localCheckpoint`` (Spark-4 origin-chain growth).

    Redirect CYCLES never converge; the loop stops at ``max_rounds``
    (covers chains of depth 2**max_rounds) and warns — rows still
    moving then sit on a cycle and carry whatever pointer the last
    doubling left.
    """
    import warnings

    from gminer_spark.graph.superstep import fixpoint

    f = (
        redirects.where(F.col("src_url") != F.col("dst_url"))
        .groupBy(F.col("src_url").alias("src"))
        .agg(F.min("dst_url").alias("nxt"))
        .select("src", "nxt", F.lit(1).cast("long").alias("hops"))
    )

    def double(f: DataFrame, k: int) -> DataFrame:
        nxt_map = f.select(
            F.col("src").alias("nxt"),
            F.col("nxt").alias("nxt2"),
            F.col("hops").alias("h2"),
        )
        return f.join(nxt_map, on="nxt", how="left").select(
            "src",
            F.coalesce("nxt2", "nxt").alias("nxt"),
            (F.col("hops") + F.coalesce("h2", F.lit(0))).alias("hops"),
            F.col("nxt2").isNotNull().alias("moved"),
        )

    result = fixpoint(f, double, F.col("moved"), max_iter=max_rounds)
    if not result.converged and result.history:
        warnings.warn(
            f"resolve_redirects(): {result.history[-1]['changed']} sources "
            f"still moving after max_rounds={max_rounds} doublings — "
            f"redirect cycle or chain deeper than 2**{max_rounds}; their "
            "final_url is NOT terminal",
            stacklevel=2,
        )
    f = result.state
    return f.select(
        F.col("src").alias("src_url"),
        F.col("nxt").alias("final_url"),
        "hops",
    )


def resolve_redirects_oracle_sql(redirects_cte: str) -> str:
    """DuckDB witness over any CTE ``redirects(src_url, dst_url)``:
    single-step recursive walk to the terminal target (input must be
    acyclic — the witness, unlike the engine, would not terminate on a
    cycle, so contract inputs are chains by construction)."""
    return f"""
WITH RECURSIVE {redirects_cte.strip()},
reds AS MATERIALIZED (
    SELECT src_url AS src, MIN(dst_url) AS nxt
    FROM redirects WHERE src_url <> dst_url GROUP BY src_url),
walk(src, cur, hops) AS (
    SELECT src, nxt, CAST(1 AS BIGINT) FROM reds
    UNION ALL
    SELECT w.src, r.nxt, w.hops + 1
    FROM walk w JOIN reds r ON r.src = w.cur)
SELECT w.src AS src_url, w.cur AS final_url, w.hops AS hops
FROM walk w
WHERE NOT EXISTS (SELECT 1 FROM reds r WHERE r.src = w.cur)
"""


def host_graph_oracle_sql(links_cte: str) -> str:
    """DuckDB witness over any CTE named ``links(src_url, dst_url)``."""
    hs = "lower(regexp_extract(src_url, '^https?://([^/?#]+)', 1))"
    hd = "lower(regexp_extract(dst_url, '^https?://([^/?#]+)', 1))"
    return f"""
WITH {links_cte},
h AS (SELECT {hs} AS src_host, {hd} AS dst_host, src_url FROM links)
SELECT src_host, dst_host,
       CAST(COUNT(*) AS BIGINT) AS n_links,
       CAST(COUNT(DISTINCT src_url) AS BIGINT) AS n_src_pages
FROM h
WHERE src_host <> '' AND dst_host <> '' AND src_host <> dst_host
GROUP BY src_host, dst_host
"""


def crawl_frontier(links: DataFrame, crawled: DataFrame) -> DataFrame:
    """Rank the discovery frontier: urls that appear as link targets
    but have not been crawled, scored by in-link evidence →
    ``(url, n_inlinks, n_src_pages, n_src_hosts)``.

    The crawl-scheduling primitive: at web scale the frontier is
    billions of candidate urls and the scheduler needs them scored by
    how much of the already-crawled web points at them (total links,
    distinct linking pages, distinct linking hosts — the host count is
    the spam-resistant signal, one domain cannot vote twice).

    Plan shape: one left-anti join against the crawled set (shuffle
    keyed by url, or broadcast when the crawled set is the small side
    of an incremental recrawl), then a single map-side-combinable
    groupBy — no UDFs, fully whole-stage-codegen.
    """
    cand = links.join(
        crawled.select(F.col("url").alias("dst_url")).distinct(),
        on="dst_url",
        how="left_anti",
    )
    return (
        cand.groupBy(F.col("dst_url").alias("url"))
        .agg(
            F.count("*").cast("long").alias("n_inlinks"),
            F.countDistinct("src_url").cast("long").alias("n_src_pages"),
            F.countDistinct(host_of(F.col("src_url")))
            .cast("long")
            .alias("n_src_hosts"),
        )
    )


def crawl_frontier_oracle_sql(links_cte: str, crawled_cte: str) -> str:
    """DuckDB witness over CTEs ``links(src_url, dst_url)`` and
    ``crawled(url)``."""
    hs = "lower(regexp_extract(src_url, '^https?://([^/?#]+)', 1))"
    return f"""
WITH {links_cte.strip()},
{crawled_cte.strip()}
SELECT l.dst_url AS url,
       CAST(COUNT(*) AS BIGINT) AS n_inlinks,
       CAST(COUNT(DISTINCT l.src_url) AS BIGINT) AS n_src_pages,
       CAST(COUNT(DISTINCT {hs}) AS BIGINT) AS n_src_hosts
FROM links l
WHERE NOT EXISTS (SELECT 1 FROM crawled c WHERE c.url = l.dst_url)
GROUP BY l.dst_url
"""


class FrontierMaintainer:
    """Streaming crawl-frontier maintenance: feed per-batch (new
    outlinks, newly crawled urls), read ``frontier`` between updates —
    the incremental twin of :func:`crawl_frontier`, same maintainer
    shape as :class:`gminer_spark.graph.cc.CCMaintainer` (drive it
    from a ``foreachBatch`` sink).

    State: an append-only distinct-free link LOG ``(src_url,
    dst_url)``, the monotone ``crawled`` url set, and the materialized
    ``frontier``.  Per batch only the TOUCHED targets are recomputed:
    ``affected = batch link targets ∪ batch crawled urls``; their
    stats come from the log slice (semi-join on affected), everything
    else carries over untouched — so per-batch compute is bounded by
    the batch and its log slice, not the frontier size.  State tables
    are ``localCheckpoint``-ed per batch (lineage never chains across
    batches; single-reference per batch, so the Spark-4 origin chain
    grows linearly — the CCMaintainer discipline).

    Invariant (pytest- and oracle-enforced): after any batch sequence,
    ``frontier`` equals the BATCH operator over the concatenated
    inputs — ``crawl_frontier(all links, all crawled)``.  Unlike
    online dedup, frontier maintenance is arrival-order independent:
    counts are over the full log, and ``crawled`` is monotone.
    """

    def __init__(self) -> None:
        self.log: DataFrame | None = None
        self.crawled: DataFrame | None = None
        self.frontier: DataFrame | None = None

    def update(
        self, batch_links: DataFrame, batch_crawled: DataFrame
    ) -> DataFrame:
        links = batch_links.select("src_url", "dst_url")
        newly = batch_crawled.select("url")
        self.log = (
            links if self.log is None else self.log.unionByName(links)
        ).localCheckpoint()
        self.crawled = (
            newly
            if self.crawled is None
            else self.crawled.unionByName(newly)
        ).distinct().localCheckpoint()
        affected = (
            links.select(F.col("dst_url").alias("url"))
            .unionByName(newly)
            .distinct()
        )
        sl = self.log.join(
            affected.select(F.col("url").alias("dst_url")), on="dst_url"
        )
        stats = (
            sl.groupBy(F.col("dst_url").alias("url"))
            .agg(
                F.count("*").cast("long").alias("n_inlinks"),
                F.countDistinct("src_url").cast("long").alias("n_src_pages"),
                F.countDistinct(host_of(F.col("src_url")))
                .cast("long")
                .alias("n_src_hosts"),
            )
            .join(self.crawled, on="url", how="left_anti")
        )
        if self.frontier is None:
            self.frontier = stats.localCheckpoint()
        else:
            self.frontier = (
                self.frontier.join(affected, on="url", how="left_anti")
                .unionByName(stats)
                .localCheckpoint()
            )
        return self.frontier


def robots_filter(urls: DataFrame, rules: DataFrame) -> DataFrame:
    """Filter a url table against per-host disallow rules →
    the allowed subset (same columns as ``urls``).

    The crawl-policy gate: before scheduling, every candidate url must
    clear its host's robots rules.  ``rules`` is ``(host,
    disallow_prefix)`` — a url is dropped when ANY rule for its
    (lowercased) host is a literal prefix of its path (path = the part
    from the first ``/`` after the host; a url with no path matches
    only the empty prefix, which means "disallow all").  This is the
    simplified prefix-only subset of robots.txt (no Allow overrides,
    no wildcards) — the 99% case; a full matcher would slot in the
    same join shape.

    Plan: one equi-join keyed on host (rules tables are tiny —
    broadcast — and hot hosts hit AQE) plus a literal ``startswith``
    (no LIKE escaping hazards), then an anti-join of the matches.
    All built-in expressions, whole-stage codegen.
    """
    path = F.regexp_extract(F.col("url"), r"^https?://[^/?#]+(/[^#]*)?", 1)
    cand = urls.select(
        "*",
        host_of(F.col("url")).alias("_host"),
        F.coalesce(path, F.lit("")).alias("_path"),
    )
    hit = (
        cand.join(
            rules.select(
                F.lower(F.col("host")).alias("_host"), "disallow_prefix"
            ),
            on="_host",
        )
        .where(F.col("_path").startswith(F.col("disallow_prefix")))
        .select("url")
        .distinct()
    )
    return cand.join(hit, on="url", how="left_anti").drop("_host", "_path")


def robots_filter_oracle_sql(urls_cte: str, rules_cte: str) -> str:
    """DuckDB witness over CTEs ``urls(url)`` and ``rules(host,
    disallow_prefix)`` — identical host/path extraction, literal
    ``starts_with``."""
    h = "lower(regexp_extract(u.url, '^https?://([^/?#]+)', 1))"
    p = "COALESCE(regexp_extract(u.url, '^https?://[^/?#]+(/[^#]*)?', 1), '')"
    return f"""
WITH {urls_cte.strip()},
{rules_cte.strip()}
SELECT u.url FROM urls u
WHERE NOT EXISTS (
    SELECT 1 FROM rules r
    WHERE lower(r.host) = {h}
      AND starts_with({p}, r.disallow_prefix))
"""
