"""Task-parallel mining kernels — the reference's app layer re-expressed.

GMiner's apps are per-seed subgraph tasks: seed a task at a vertex,
pull its neighborhood, run an in-memory kernel (branch & bound /
backtracking), fold results through a global aggregator
(/root/reference/apps/maxclique.cpp, community.cpp, focusCO.cpp).

Spark-first re-expression (SURVEY.md §2.10): the "pull" is a join
that builds each seed's ego-net edge list (exactly the closed wedges
of the oriented graph), `applyInPandas` batches the per-seed kernels
(Arrow in, one python call per partition of seeds), and the global
bound / result merge is a driver-side aggregate — including the
reference's mid-job trick of broadcasting the running best bound
back into workers (maxclique.cpp:185,240-241), which here is a
cheap-first-pass → broadcast → exact-second-pass schedule.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gminer_spark.graph.triangles import BROADCAST_ROW_LIMIT, _closed, _csr_pairs



def _aslist(x) -> list:
    """Arrow hands array columns to pandas as numpy arrays, whose truth
    value is ambiguous — normalize to a plain list."""
    if x is None:
        return []
    return list(x)

def _adj_matrix(ids: list, eg_src, eg_dst) -> np.ndarray:
    """Dense bool adjacency over sorted ``ids`` from the ego edge
    arrays — vectorized (r6): ``np.searchsorted`` replaces the
    per-edge python dict loop (the kernels' setup cost dominated the
    cheap greedy pass).  Endpoints outside ``ids`` are masked out,
    matching the old ``idx.get() is not None`` guard."""
    n = len(ids)
    adj = np.zeros((n, n), dtype=bool)
    if eg_src is None or n == 0:
        return adj
    a = np.asarray(eg_src, dtype=np.int64)
    if a.size == 0:
        return adj
    b = np.asarray(eg_dst, dtype=np.int64)
    ids_arr = np.asarray(ids, dtype=np.int64)
    ia = np.searchsorted(ids_arr, a).clip(0, n - 1)
    ib = np.searchsorted(ids_arr, b).clip(0, n - 1)
    ok = (ids_arr[ia] == a) & (ids_arr[ib] == b)
    ia, ib = ia[ok], ib[ok]
    adj[ia, ib] = True
    adj[ib, ia] = True
    return adj


# ---------------------------------------------------------------------------
# per-seed ego-nets over the oriented graph
# ---------------------------------------------------------------------------


def _seed_egonets(
    edges: DataFrame, broadcast_limit: int = BROADCAST_ROW_LIMIT
) -> DataFrame:
    """(u, cands:array<long>, eg_src:array<long>, eg_dst:array<long>).

    cands = N⁺(u) in degree order; (eg_src, eg_dst) = edges among
    cands (the closed wedges at u).  Every maximal clique is
    enumerated exactly once, at its minimum-rank member — the
    reference's id-ordered seeding (maxclique.cpp:230-254) with the
    degree-ordered skew fix.

    Both come off the oriented CSR of triangles._csr_pairs: cands is
    the out-list N⁺(u), and the ego edges are the closed wedges
    (v, w ∈ N⁺(u) ∩ N⁺(v)) grouped by u.  Its one lookup broadcast is
    SIZE-GATED on the oriented edge count: above ``broadcast_limit``
    it is a shuffle join, matching the reference's shuffled pull
    (core/slave.tpp:307-401).
    """
    adj, pairs = _csr_pairs(edges, "degree", broadcast_limit)
    ego_edges = (
        _closed(pairs)
        .groupBy("u")
        .agg(F.collect_list("v").alias("eg_src"), F.collect_list("w").alias("eg_dst"))
    )
    return adj.withColumnRenamed("nu", "cands").join(ego_edges, on="u", how="left")


def _kernel_max_clique(cands, eg_src, eg_dst, lower_bound: int) -> list[int]:
    """Tomita-style B&B with greedy-coloring bound on one ego-net.

    Returns the best clique *within the candidate set* (seed
    excluded) larger than ``lower_bound - 1``, else [].  Bitset rows
    (numpy packed bools) keep the intersection loop vectorized — the
    analog of the reference's std::set_intersection candidate pruning
    (maxclique.cpp:149-161).
    """
    ids = sorted(cands)
    n = len(ids)
    if n == 0 or n < lower_bound - 1:
        return []
    adj = _adj_matrix(ids, eg_src, eg_dst)

    # degree-descending candidate order (maxclique.cpp:52-83)
    order = np.argsort(-adj.sum(1), kind="stable")
    best: list[int] = []
    best_size = max(0, lower_bound - 1)
    best_sorted: list[int] = []

    def coloring_bound(cand_mask: np.ndarray) -> int:
        # greedy coloring class count = clique upper bound (:91-129)
        remaining = cand_mask.copy()
        colors = 0
        while remaining.any():
            colors += 1
            avail = remaining.copy()
            while avail.any():
                v = int(np.argmax(avail))
                avail &= ~adj[v]
                avail[v] = False
                remaining[v] = False
        return colors

    def expand(current: list[int], cand_mask: np.ndarray) -> None:
        # CANONICAL tie-break: at equal size keep the clique whose
        # sorted member list is lexicographically smallest.  For a
        # fixed seed u, comparing sorted inner lists orders exactly
        # like comparing the full sorted([u] + inner) lists, so the
        # per-seed result (and hence the global orderBy winner) is the
        # graph-wide lexicographic-min maximum clique — the value the
        # DuckDB clique-enumeration oracle computes independently.
        # Pruning is therefore at `< best_size` (ties must still be
        # explored), not the strict-improvement `<=`.
        nonlocal best, best_size, best_sorted
        if not cand_mask.any():
            if len(current) > best_size or (
                best and len(current) == best_size and sorted(current) < best_sorted
            ):
                best_size = len(current)
                best = current[:]
                best_sorted = sorted(best)
            return
        # ties are only acceptable once a best exists; before that the
        # original strict-improvement threshold prunes harder
        need = best_size if best else best_size + 1
        if len(current) + int(cand_mask.sum()) < need:
            return
        if len(current) + coloring_bound(cand_mask) < need:
            return
        for v in order:
            if not cand_mask[v]:
                continue
            cand_mask[v] = False
            expand(current + [int(v)], cand_mask & adj[v])

    expand([], np.ones(n, dtype=bool))
    return [ids[i] for i in best]


_CLIQUE_SCHEMA = "u long, size int, members array<long>"


def _clique_pass(egonets: DataFrame, lower_bound: int, exact: bool) -> DataFrame:
    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        # itertuples, not iterrows (r6): iterrows builds a pandas
        # Series per seed — pure overhead at tens of thousands of
        # seeds per pass
        for r in pdf.itertuples(index=False):
            cands = _aslist(r.cands)
            if exact:
                inner = _kernel_max_clique(
                    cands, r.eg_src, r.eg_dst, lower_bound
                )
            else:  # greedy: cheap lower bound (first pass)
                ids = sorted(cands)
                n = len(ids)
                adj = _adj_matrix(ids, r.eg_src, r.eg_dst)
                inner = []
                mask = np.ones(n, dtype=bool)
                for v in np.argsort(-adj.sum(1), kind="stable"):
                    if mask[v]:
                        inner.append(ids[v])
                        mask &= adj[v]
            members = sorted([int(r.u)] + [int(x) for x in inner])
            rows.append((int(r.u), len(members), members))
        return pd.DataFrame(rows, columns=["u", "size", "members"])

    return egonets.mapInPandas(
        lambda it: (run(pdf) for pdf in it), _CLIQUE_SCHEMA
    )


def max_clique(edges: DataFrame) -> tuple[int, list[int]]:
    """Exact maximum clique (size, lexicographically-smallest members).

    Two-pass schedule mirroring the reference's shared bound
    (maxclique.cpp:13-47,185): pass 1 runs the cheap greedy kernel on
    every seed; its global max becomes the broadcast lower bound for
    pass 2's exact B&B, which prunes most seeds outright
    (``|cands|+1 <= bound``).
    """
    egonets = _seed_egonets(edges).persist()
    greedy = _clique_pass(egonets, 0, exact=False).persist()
    bound = greedy.agg(F.max("size")).first()[0] or 1

    # kernel bound is on the INNER clique (seed excluded): inner >= bound-1
    exact = _clique_pass(
        egonets.where(F.size("cands") + 1 >= F.lit(bound)), bound - 1, exact=True
    )
    rows = (
        exact.unionByName(greedy)  # greedy baseline guards the ties
        .where(F.col("size") >= bound)
        .orderBy(F.col("size").desc(), F.col("members").asc())
        .limit(1)
        .collect()
    )
    egonets.unpersist()
    greedy.unpersist()
    return (rows[0]["size"], list(rows[0]["members"]))


# ---------------------------------------------------------------------------
# attributed community detection (the reference's CD app)
# ---------------------------------------------------------------------------


def _kernel_attr_clique(
    seed_attrs: set, cands: list, eg_src, eg_dst, cand_attrs: dict, k: int
) -> tuple[list[int], set]:
    """Exact max attributed clique within one seed's candidate set.

    The reference's CommunityTask::community B&B (community.cpp:249-313)
    with the attribute narrowing done CORRECTLY per branch: adding a
    member intersects the running common-attribute set with its
    attributes and the branch dies when the intersection empties
    (has_common_attr, :154-182 — note the C++ mutates com_attr_set
    without restoring on backtrack, a hash-order-dependent quirk; we
    keep it branch-local, which is the declared intent of the check).
    Degree-descending expansion order is the reference's get_listR
    (:188-204); the size bound prunes like its max_size check (:256).

    Returns (members-of-best-inner-clique, final common attrs); []
    when no clique of total size >= k exists.  Deterministic: fixed
    expansion order, strict improvement keeps the first-found best.
    """
    ids = sorted(cands)
    n = len(ids)
    if n == 0 or n + 1 < k:
        return [], set()
    attrs = [frozenset(_aslist(cand_attrs.get(v))) & seed_attrs for v in ids]
    adj = _adj_matrix(ids, eg_src, eg_dst)

    order = np.argsort(-adj.sum(1), kind="stable")
    compat0 = np.array([bool(a) for a in attrs])
    best: list[int] = []
    best_attrs: set = set()
    best_size = max(0, k - 2)  # inner clique must reach k-1 members
    best_sorted: list[int] = []

    def expand(current: list[int], common: frozenset, mask: np.ndarray) -> None:
        # canonical lexicographic-min tie-break (same argument as
        # _kernel_max_clique): makes the per-seed community the value
        # an exhaustive SQL clique enumeration would pick
        nonlocal best, best_attrs, best_size, best_sorted
        if not mask.any():
            if len(current) > best_size or (
                best and len(current) == best_size and sorted(current) < best_sorted
            ):
                best_size = len(current)
                best = current[:]
                best_sorted = sorted(best)
                best_attrs = set(common)
            return
        need = best_size if best else best_size + 1
        if len(current) + int(mask.sum()) < need:
            return
        for v in order:
            if not mask[v]:
                continue
            mask[v] = False
            new_common = common & attrs[v]
            if not new_common:
                continue
            nxt = mask & adj[v]
            if new_common != common and nxt.any():
                keep = np.array(
                    [bool(attrs[i] & new_common) for i in range(n)]
                )
                nxt = nxt & keep
            expand(current + [int(v)], new_common, nxt)

    expand([], frozenset(seed_attrs), compat0.copy())
    return [ids[i] for i in best], best_attrs


class _CmapView:
    """dict-like ``.get`` adapter so :func:`_kernel_attr_clique` reads
    candidate attrs identically from the broadcast dict and from the
    per-row map column."""

    __slots__ = ("_r", "_get")

    def __init__(self, r, get):
        self._r, self._get = r, get

    def get(self, key, default=None):
        v = self._get(self._r, key)
        return v if v is not None else default


def attributed_communities(
    edges: DataFrame, attrs: DataFrame, k: int = 3
) -> DataFrame:
    """Communities = max cliques of size >= k whose members share >= 1
    attribute — the reference's CD app (community.cpp): per-seed exact
    B&B over the id-oriented candidate ego-net with an attribute-set
    intersection constraint (:249-313), seed gate = enough candidates
    and a non-empty attribute vector (:373-401), results deduplicated
    CountAgg-style (:106-112).

    ``attrs``: (id, attr) one row per attribute value.  Returns
    (community:array<long>, shared_attr) rows, each community the
    EXACT maximum attributed clique of some seed's ego-net, reported
    at its minimum-rank member and deduplicated.  ``shared_attr`` is
    the smallest of the final common attributes (deterministic).
    """
    # materialize once: the ego-net table is referenced below and the
    # wedge enumeration would otherwise run per reference (r6)
    egonets = _seed_egonets(edges).localCheckpoint()
    attr_map = (
        attrs.groupBy("id")
        .agg(F.collect_set("attr").alias("attr_set"))
        .localCheckpoint()
    )
    n_attr = attr_map.count()

    schema = "community array<long>, shared_attr string"
    spark = edges.sparkSession

    def run_rows(pdf: pd.DataFrame, seed_of, cmap_get) -> pd.DataFrame:
        out = []
        for r in pdf.itertuples(index=False):
            seed_attrs = seed_of(r)
            if not seed_attrs:  # create_task gate (community.cpp:386-387)
                continue
            cands = [
                c
                for c in _aslist(r.cands)
                if seed_attrs & set(_aslist(cmap_get(r, c)))
            ]
            inner, common = _kernel_attr_clique(
                seed_attrs,
                cands,
                r.eg_src,
                r.eg_dst,
                _CmapView(r, cmap_get),
                k,
            )
            members = sorted([int(r.u)] + [int(x) for x in inner])
            if len(members) >= k:
                out.append((members, min(common) if common else None))
        return pd.DataFrame(out, columns=["community", "shared_attr"])

    if n_attr <= BROADCAST_ROW_LIMIT:
        # SHUFFLE KEYS, NOT PAYLOADS (r6): the map-column path below
        # ships each candidate's attr set once per (seed, cand) PAIR —
        # a Σ|cands| explode+join+collect per run.  The attr table is
        # O(|V|) rows, so under the standard gate one broadcast ships
        # each id's attrs once and the kernel reads egonets directly.
        adf = attr_map.toPandas()
        battr = spark.sparkContext.broadcast(
            {int(i): list(a) for i, a in zip(adf["id"], adf["attr_set"])}
        )

        def run_bc(pdf: pd.DataFrame) -> pd.DataFrame:
            d = battr.value
            return run_rows(
                pdf,
                seed_of=lambda r: set(d.get(int(r.u), ())),
                cmap_get=lambda r, c: d.get(int(c)),
            )

        res = egonets.mapInPandas(
            lambda it: (run_bc(pdf) for pdf in it), schema
        )
        return res.dropDuplicates(["community"])

    # above the gate: ship attr sets through the shuffle as before
    with_attrs = egonets.join(
        attr_map.withColumnRenamed("id", "u"), on="u", how="left"
    )
    # ship each candidate's attr set as a map column
    cand_attrs = (
        egonets.select("u", F.explode("cands").alias("cand"))
        .join(attr_map.withColumnRenamed("id", "cand"), on="cand", how="left")
        .groupBy("u")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("cand", "attr_set"))
            ).alias("cand_attrs")
        )
    )
    full = with_attrs.join(cand_attrs, on="u", how="left")

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        return run_rows(
            pdf,
            seed_of=lambda r: set(_aslist(r.attr_set)),
            cmap_get=lambda r, c: (
                (r.cand_attrs or {}).get(c) if r.cand_attrs is not None else None
            ),
        )

    res = full.mapInPandas(lambda it: (run(pdf) for pdf in it), schema)
    return res.dropDuplicates(["community"])


# ---------------------------------------------------------------------------
# DuckDB witnesses: unrolled clique-extension CTE chains
# ---------------------------------------------------------------------------


def _clique_chain(base: str, cols0: list[str], max_k: int) -> tuple[list[str], dict[int, list[str]]]:
    """CTE fragments enumerating every id-oriented k-clique of ``base``
    (a materialized (src,dst) src<dst edge CTE), k = len(cols0)..max_k.

    Level k extends level k-1 on its last member and guards adjacency
    to every earlier member with EXISTS probes — each k-clique appears
    exactly once as its id-sorted member tuple.  Returns (fragments,
    {k: member-columns}).
    """
    frags: list[str] = []
    cols = list(cols0)
    levels = {len(cols): list(cols)}
    for k in range(len(cols) + 1, max_k + 1):
        prev = f"c{k - 1}"
        ex = " AND ".join(
            f"EXISTS (SELECT 1 FROM {base} b WHERE b.src = {prev}.{c} AND b.dst = nv.dst)"
            for c in cols[:-1]
        )
        sel = ", ".join(f"{prev}.{c}" for c in cols)
        frags.append(
            f"c{k} AS MATERIALIZED (\n"
            f"    SELECT {sel}, nv.dst AS a{k}\n"
            f"    FROM {prev} JOIN {base} nv ON nv.src = {prev}.{cols[-1]}\n"
            f"    WHERE {ex})"
        )
        cols.append(f"a{k}")
        levels[k] = list(cols)
    return frags, levels


def max_clique_oracle_sql(edges_cte: str, max_k: int = 16) -> str:
    """DuckDB witness for :func:`max_clique` — exhaustive unrolled
    clique enumeration, then the (size DESC, members ASC) minimum,
    which is precisely the engine's canonical output (lexicographic-
    min maximum clique; the reference's checkable printed scalar,
    apps/maxclique.cpp:280-285).

    ``max_k`` is an iter-cap in the repo's usual measured-plus-margin
    discipline: the sf0.01 copurchase graph's max clique is 13
    (k=14 level empty, measured), so 16 leaves a 3-level margin; the
    empty tail levels cost nothing.  MATERIALIZED keeps DuckDB from
    re-opening the parquet per CTE reference.
    """
    frags, levels = _clique_chain("e", ["a1", "a2"], max_k)
    unions = [
        f"SELECT {k} AS clique_size, [{', '.join(cols)}] AS mem FROM c{k}"
        for k, cols in levels.items()
    ]
    return (
        f"WITH {edges_cte.strip()},\n"
        "e AS MATERIALIZED (SELECT src, dst FROM edges),\n"
        "c2 AS MATERIALIZED (SELECT src AS a1, dst AS a2 FROM e),\n"
        + ",\n".join(frags)
        + ",\nallc AS (\n    "
        + "\n    UNION ALL ".join(unions)
        + "\n)\n"
        "SELECT CAST(clique_size AS INT) AS clique_size,\n"
        "       array_to_string(mem, ',') AS members\n"
        "FROM allc ORDER BY clique_size DESC, mem ASC LIMIT 1"
    )


def communities_oracle_sql(edges_cte: str, k: int = 4, max_k: int = 7) -> str:
    """DuckDB witness for the CD app contract query
    (:func:`attributed_communities` over part brands).

    Because every part carries exactly ONE brand, "members share >= 1
    attribute" collapses to "all members have the same brand", so the
    search space is the same-brand edge subgraph.  Each community the
    engine reports is, by construction, the maximum (lex-min on ties)
    same-brand clique among seed u's degree-oriented candidates — and
    u is exactly the minimum-(deg<<32|id)-rank member of any clique
    reported at it.  The witness therefore enumerates ALL same-brand
    cliques (unrolled CTEs, cap = measured sf0.01 max 4 + margin),
    tags each with its min-rank member as the seed, and keeps each
    seed's (size DESC, members ASC) winner of size >= k.
    Reference scalar: apps/community.cpp:452-468.
    """
    frags, levels = _clique_chain("sb", ["a1", "a2"], max_k)
    unions = [
        f"SELECT {k_} AS csize, [{', '.join(cols)}] AS mem FROM c{k_}"
        for k_, cols in levels.items()
        if k_ >= k
    ]
    return (
        f"WITH {edges_cte.strip()},\n"
        "sym AS MATERIALIZED (\n"
        "    SELECT src, dst FROM edges\n"
        "    UNION SELECT dst, src FROM edges),\n"
        "deg AS MATERIALIZED (\n"
        "    SELECT src AS id, COUNT(*) AS d FROM sym GROUP BY src),\n"
        "brand AS MATERIALIZED (\n"
        "    SELECT CAST(p_partkey AS BIGINT) AS id, p_brand AS attr FROM part),\n"
        "sb AS MATERIALIZED (\n"
        "    SELECT e.src, e.dst FROM edges e\n"
        "    JOIN brand b1 ON b1.id = e.src\n"
        "    JOIN brand b2 ON b2.id = e.dst AND b2.attr = b1.attr),\n"
        "c2 AS MATERIALIZED (SELECT src AS a1, dst AS a2 FROM sb),\n"
        + ",\n".join(frags)
        + ",\nallc AS (\n    "
        + "\n    UNION ALL ".join(unions)
        + "\n),\n"
        # seed = member with the smallest (deg<<32 | id) rank key
        "seeded AS (\n"
        "    SELECT csize, mem,\n"
        "           (SELECT m FROM (SELECT UNNEST(mem) AS m) u\n"
        "            JOIN deg ON deg.id = u.m\n"
        "            ORDER BY deg.d * 4294967296 + u.m LIMIT 1) AS seed\n"
        "    FROM allc\n"
        "),\n"
        "ranked AS (\n"
        "    SELECT csize, mem, seed,\n"
        "           ROW_NUMBER() OVER (PARTITION BY seed\n"
        "                              ORDER BY csize DESC, mem ASC) AS rk\n"
        "    FROM seeded\n"
        ")\n"
        "SELECT array_to_string(r.mem, ',') AS community,\n"
        "       b.attr AS shared_attr,\n"
        "       CAST(r.csize AS INT) AS size\n"
        "FROM ranked r JOIN brand b ON b.id = r.seed\n"
        "WHERE r.rk = 1"
    )


# ---------------------------------------------------------------------------
# focused clustering (the reference's GC / FocusCO app) lives in
# gminer_spark.graph.focusco — full expand/contract/outlier parity,
# task-parallel across all seeds.
# ---------------------------------------------------------------------------
