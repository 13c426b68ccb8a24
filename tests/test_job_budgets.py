"""Spark-job budgets, pinned as counts.

Job counts do not depend on the machine, so they are the stable
evidence for per-round cost cuts: a regression that adds a bookkeeping
job (a schema-inference read, a driver-side aggregate, a second count)
keeps every value right and shows only here.
"""

from __future__ import annotations

from contextlib import contextmanager

import pytest

from tests.conftest import bipartite_incidence, edges_df, random_graph

# pagerank(num_iter=2, store=...) on a cached input: the degree-table
# checkpoint, then per committed superstep (init + 2) the state write's
# stages.  Was 33 before the degree table became one aggregation and
# the dangling mass moved onto each round's own action, and 17 before
# a round became one message shuffle with no degree-table join.  A
# ceiling: job counts of unchanged code can move by one between runs.
PAGERANK_STORE_2_ROUNDS_BUDGET = 11


@contextmanager
def _jobs(spark, group):
    """Collect the ids of the Spark jobs run inside the block.

    A JVM garbage collection runs first, so the garbage earlier tests
    left is not collected inside the block: without it,
    betweenness_sampled counted one job more whenever
    test_determinism.py had run earlier in the session."""
    sc = spark.sparkContext
    sc._jvm.System.gc()
    ids: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def cached_edges(spark):
    edges = edges_df(spark, random_graph(n=80, p=0.05, seed=11)).persist()
    edges.count()
    yield edges
    edges.unpersist()


def test_pagerank_store_job_budget(spark, tmp_path, cached_edges):
    from gminer_spark.checkpoint import CheckpointStore
    from gminer_spark.graph.pagerank import pagerank

    store = CheckpointStore(spark, str(tmp_path / "pr"))
    with _jobs(spark, "budget-pagerank-store") as ids:
        res = pagerank(cached_edges, num_iter=2, store=store)
    assert res.supersteps_run == 2
    assert store.committed_steps() == [0, 1, 2]
    assert 0 < len(ids) <= PAGERANK_STORE_2_ROUNDS_BUDGET, len(ids)


def test_store_commit_runs_only_the_write(spark, tmp_path):
    """A commit is the state write's job(s): the lineage row is written
    from the driver and the re-read takes the known schema."""
    from gminer_spark.checkpoint import CheckpointStore

    df = spark.createDataFrame([(1, 0.5), (2, 0.25)], "id long, rank double")
    df = df.coalesce(1)
    with _jobs(spark, "budget-plain-write") as write_ids:
        df.write.parquet(str(tmp_path / "plain"))
    store = CheckpointStore(spark, str(tmp_path / "ck"))
    with _jobs(spark, "budget-commit") as commit_ids:
        state = store.commit(1, df, {"edges_scanned": 3, "phase": "x"})
    assert len(write_ids) >= 1
    assert len(commit_ids) == len(write_ids)
    assert state.schema == spark.read.parquet(str(tmp_path / "plain")).schema
    assert sorted(tuple(r) for r in state.collect()) == [(1, 0.5), (2, 0.25)]


def test_loaded_cache_sized_without_a_job(spark, cached_edges):
    """ensure_materialized reads a loaded cache's row count from its
    stats; an uncached input is persisted and counted."""
    from gminer_spark.graph import tables

    want = len(random_graph(n=80, p=0.05, seed=11))
    with _jobs(spark, "budget-sizing-cached") as ids:
        df, n, we_persisted = tables.ensure_materialized(cached_edges)
    assert (n, we_persisted, ids) == (want, False, [])
    assert df is cached_edges

    raw = edges_df(spark, random_graph(n=80, p=0.05, seed=11))
    with _jobs(spark, "budget-sizing-raw") as ids:
        df, n, we_persisted = tables.ensure_materialized(raw)
    assert (n, we_persisted) == (want, True) and ids
    df.unpersist()


# Iterative loops, the triangle enumeration k-truss, trussness, edge
# embeddedness and Forman curvature run, link features and degree
# assortativity: the jobs of the call plus one collect() of its result,
# so a lazily returned result is counted too.  Each loop runs one action
# per round; a second action per round shows here first.
# Inputs (all cached before the count): an undirected random graph (n=120,
# p=0.08, seed 21), the same graph with w = src*7 % 13 + 1, a random DAG
# (n=120, p=0.05, seed 3, src < dst), CYCLE6, a directed random graph
# (n=120, p=0.03, seed 21), a table of redirect chains and the 400-pair
# bipartite incidence of test_bitruss_peel_fixpoint_and_support_floor
# (40 left x 25 right ids, seed 5).  The
# target and source sets of hitting_time and earliest_arrival are the
# directed graph's ids divisible by 7; its temporal edges carry
# t = src*7 % 50.
LOOP_JOB_BUDGETS = {
    "k_core": 25,
    "k_truss": 52,
    "bitruss": 145,
    "greedy_coloring": 197,
    "maximal_matching": 55,
    "link_features": 13,
    "degree_assortativity": 4,
    "k_core_capped": 16,
    "s_core": 25,
    "coreness": 95,
    "coreness_hindex": 60,
    "coreness_hindex_num_iter": 47,
    "maximal_independent_set": 48,
    "connected_components": 32,
    "shortest_paths": 30,
    "shortest_paths_weighted": 45,
    "label_propagation": 30,
    "label_propagation_stable": 64,
    "widest_paths": 44,
    "dag_layers": 97,
    "dag_layers_cycle": 54,
    "cpm_communities": 148,
    "trussness": 65,
    "trussness_num_iter": 65,
    "triangle_count": 7,
    "triangles_per_vertex": 7,
    "edge_embeddedness": 10,
    "forman_curvature": 10,
    "strongly_connected_components": 125,
    "minimum_spanning_forest": 95,
    "resolve_redirects": 21,
    "hits": 327,
    "salsa": 332,
    "katz": 43,
    "katz_dag_horizon_40": 43,
    "hitting_time": 47,
    "earliest_arrival": 33,
    "earliest_arrival_num_iter_30": 45,
    "wl_colors": 25,
    "pagerank_tol": 144,
    "betweenness_sampled": 72,
    "bowtie": 96,
    "k_center": 102,
    "landmark_sketch": 37,
    "random_walks": 18,
    "random_walks_node2vec": 28,
}
# Calls whose count moved by a job between runs of the same code:
# pinned as a ceiling.  betweenness_sampled read 74, 75 and 74 in three
# runs of test_determinism.py + this file, and repeated calls in one
# session split their AQE query stages into jobs differently.
JOB_CEILINGS = {"betweenness_sampled"}
# the focusco pull loop on the 40-vertex graph of
# test_focusco_full_graph_path_equals_pull_loop (gseed 4)
FOCUSCO_PULL_JOB_BUDGET = 28
UNDIRECTED = random_graph(n=120, p=0.08, seed=21, directed=False)
# chains u0 -> u1 -> ... broken every 9th link, plus side exits u3k -> v3k
REDIRECTS = [(f"u{i}", f"u{i + 1}") for i in range(40) if i % 9 != 8] + [
    (f"u{i}", f"v{i}") for i in range(0, 40, 3)
]


@pytest.fixture(scope="module")
def loop_inputs(spark):
    from pyspark.sql import functions as F

    from tests.conftest import CYCLE6

    edges = edges_df(spark, UNDIRECTED)
    inputs = {
        "edges": edges,
        "weighted": edges.select(
            "src", "dst", (F.col("src") * 7 % 13 + 1).alias("w")
        ),
        "dag": edges_df(spark, random_graph(n=120, p=0.05, seed=3, directed=False)),
        "cycle": edges_df(spark, CYCLE6),
        "directed": edges_df(spark, random_graph(n=120, p=0.03, seed=21)),
        "redirects": spark.createDataFrame(
            REDIRECTS, "src_url string, dst_url string"
        ),
        "incidence": spark.createDataFrame(
            bipartite_incidence(), "left long, right long"
        ),
    }
    for df in inputs.values():
        df.persist().count()
    yield inputs
    for df in inputs.values():
        df.unpersist()


def _loop_calls(inp):
    from pyspark.sql import functions as F

    from gminer_spark.graph import tables
    from gminer_spark.graph.betweenness import betweenness_sampled
    from gminer_spark.graph.butterflies import bitruss
    from gminer_spark.graph.cc import connected_components
    from gminer_spark.graph.coloring import greedy_coloring
    from gminer_spark.graph.cpm import cpm_communities
    from gminer_spark.graph.dag import dag_layers
    from gminer_spark.graph.hits import hits
    from gminer_spark.graph.hitting import hitting_time
    from gminer_spark.graph.katz import katz
    from gminer_spark.graph.kcenter import k_center
    from gminer_spark.graph.kcore import coreness, coreness_hindex, k_core, s_core
    from gminer_spark.graph.ktruss import k_truss
    from gminer_spark.graph.landmarks import landmark_sketch
    from gminer_spark.graph.linkpred import link_features
    from gminer_spark.graph.lpa import label_propagation
    from gminer_spark.graph.matching import maximal_matching
    from gminer_spark.graph.mis import maximal_independent_set
    from gminer_spark.graph.msf import minimum_spanning_forest
    from gminer_spark.graph.pagerank import pagerank
    from gminer_spark.graph.reach import bowtie
    from gminer_spark.graph.salsa import salsa
    from gminer_spark.graph.scc import strongly_connected_components
    from gminer_spark.graph.sssp import shortest_paths, widest_paths
    from gminer_spark.graph.structure import (
        degree_assortativity,
        edge_embeddedness,
        forman_curvature,
    )
    from gminer_spark.graph.temporal import earliest_arrival
    from gminer_spark.graph.triangles import triangle_count, triangles_per_vertex
    from gminer_spark.graph.trussness import trussness
    from gminer_spark.graph.walks import random_walks, random_walks_node2vec
    from gminer_spark.graph.wl import wl_colors
    from gminer_spark.web.edges import resolve_redirects

    edges, wedges = inp["edges"], inp["weighted"]
    weighted = edges.select("src", "dst", (F.col("src") % 3 + 1).alias("w"))
    sources = edges.sparkSession.createDataFrame([(0,), (5,)], "id long")
    directed = inp["directed"]
    temporal = directed.select("src", "dst", (F.col("src") * 7 % 50).alias("t"))

    def sevens():
        return tables.vertices(directed).where(F.col("id") % 7 == 0)

    return {
        # k=7 and k=13 peel for 6 rounds; the cap stops after 3
        "k_core": lambda: k_core(edges, k=7),
        "k_core_capped": lambda: k_core(edges, k=7, max_iter=3),
        "s_core": lambda: s_core(weighted, k=13, weight_col="w"),
        "coreness": lambda: coreness(edges),
        "coreness_hindex": lambda: coreness_hindex(edges),
        "coreness_hindex_num_iter": lambda: coreness_hindex(edges, num_iter=10),
        "maximal_independent_set": lambda: maximal_independent_set(edges),
        "greedy_coloring": lambda: greedy_coloring(edges),
        "maximal_matching": lambda: maximal_matching(edges),
        "k_truss": lambda: k_truss(edges, k=4),
        "bitruss": lambda: bitruss(inp["incidence"], k=30, max_right_deg=64),
        "connected_components": lambda: connected_components(edges).state,
        "shortest_paths": lambda: shortest_paths(edges, sources).state,
        "shortest_paths_weighted": lambda: shortest_paths(
            wedges, sources, weight_col="w"
        ).state,
        "label_propagation": lambda: label_propagation(edges, num_iter=4).state,
        "label_propagation_stable": lambda: label_propagation(
            edges, until_stable=True
        ).state,
        "widest_paths": lambda: widest_paths(wedges, sources),
        "dag_layers": lambda: dag_layers(inp["dag"]),
        # a cycle never converges: 8 capped rounds, then the warning
        "dag_layers_cycle": lambda: dag_layers(inp["cycle"], max_rounds=8),
        "cpm_communities": lambda: cpm_communities(edges),
        "trussness": lambda: trussness(edges),
        "trussness_num_iter": lambda: trussness(edges, num_iter=8),
        "triangle_count": lambda: triangle_count(edges),
        "triangles_per_vertex": lambda: triangles_per_vertex(edges),
        "edge_embeddedness": lambda: edge_embeddedness(edges),
        "forman_curvature": lambda: forman_curvature(edges),
        "link_features": lambda: link_features(edges),
        "degree_assortativity": lambda: degree_assortativity(directed),
        "strongly_connected_components": lambda: strongly_connected_components(
            inp["directed"]
        ),
        "minimum_spanning_forest": lambda: minimum_spanning_forest(wedges),
        "resolve_redirects": lambda: resolve_redirects(inp["redirects"]),
        "hits": lambda: hits(directed, num_iter=10),
        "salsa": lambda: salsa(directed, num_iter=10),
        "katz": lambda: katz(directed, horizon=6),
        "katz_dag_horizon_40": lambda: katz(inp["dag"], horizon=40),
        "hitting_time": lambda: hitting_time(directed, sevens(), horizon=6),
        "earliest_arrival": lambda: earliest_arrival(temporal, sevens(), num_iter=4),
        "earliest_arrival_num_iter_30": lambda: earliest_arrival(
            temporal, sevens(), num_iter=30
        ),
        "wl_colors": lambda: wl_colors(edges, rounds=3),
        "pagerank_tol": lambda: pagerank(directed).state,
        "betweenness_sampled": lambda: betweenness_sampled(edges, sources),
        "bowtie": lambda: bowtie(directed),
        "k_center": lambda: k_center(edges, k=3, max_depth=8),
        "landmark_sketch": lambda: landmark_sketch(edges, k=3, max_depth=8),
        "random_walks": lambda: random_walks(edges, walk_len=6),
        "random_walks_node2vec": lambda: random_walks_node2vec(
            edges, walk_len=6, ret_bias=2, out_bias=3
        ),
    }


@pytest.mark.parametrize("name", sorted(LOOP_JOB_BUDGETS))
def test_iterative_loop_job_budget(spark, loop_inputs, name):
    call = _loop_calls(loop_inputs)[name]
    with _jobs(spark, f"budget-{name}") as ids:
        res = call()
        # triangle_count returns its count, not a DataFrame
        rows = [res] if isinstance(res, int) else res.collect()
    assert rows
    if name.startswith(("k_core", "s_core")):
        assert len(rows) < len({v for e in UNDIRECTED for v in e})
    if name in JOB_CEILINGS:
        assert len(ids) <= LOOP_JOB_BUDGETS[name], len(ids)
    else:
        assert len(ids) == LOOP_JOB_BUDGETS[name], len(ids)


def test_focusco_pull_loop_job_budget(spark):
    import random

    from gminer_spark.graph.focusco import FocusCOParams, focused_clusters

    rng = random.Random(4)
    wedges = [
        (a, b, float(rng.randint(1, 9)))
        for a in range(40)
        for b in range(a + 1, 40)
        if rng.random() < 0.15
    ]
    wdf = spark.createDataFrame(wedges, "src long, dst long, weight double")
    wdf = wdf.persist()
    wdf.count()
    p = FocusCOParams(min_weight=5.0, min_core_size=3, min_result_size=2)
    with _jobs(spark, "budget-focusco-pull") as ids:
        rows = focused_clusters(wdf, p, full_graph_entries=0).collect()
    wdf.unpersist()
    assert rows
    assert len(ids) == FOCUSCO_PULL_JOB_BUDGET, len(ids)
