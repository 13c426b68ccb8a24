"""Cross-parallelism determinism (FIXTURES.md §5 e2e requirement).

Same algorithm, same input, different physical partitioning → results
must match: labels/components exactly (deterministic tie-breaks),
PageRank to 1e-9 (float sum order tolerance far below the 1e-6 gate).
"""

from __future__ import annotations

import pytest

from tests.conftest import edges_df, random_graph


@pytest.fixture(scope="module")
def graph(spark):
    pairs = random_graph(n=150, p=0.03, seed=13)
    return edges_df(spark, pairs)


def _variants(edges):
    return [edges.repartition(2), edges.repartition(16, "src"), edges.coalesce(1)]


def test_lpa_partitioning_invariant(spark, graph):
    from gminer_spark.graph.lpa import label_propagation

    results = []
    for e in _variants(graph):
        res = label_propagation(e, num_iter=4)
        results.append({r["id"]: r["label"] for r in res.state.collect()})
    assert results[0] == results[1] == results[2]


def test_cc_partitioning_invariant(spark, graph):
    from gminer_spark.graph.cc import connected_components

    results = []
    for e in _variants(graph):
        res = connected_components(e)
        results.append({r["id"]: r["component"] for r in res.state.collect()})
    assert results[0] == results[1] == results[2]


def test_pagerank_partitioning_invariant(spark, graph):
    from gminer_spark.graph.pagerank import pagerank

    results = []
    for e in _variants(graph):
        res = pagerank(e, num_iter=8)
        results.append({r["id"]: r["rank"] for r in res.state.collect()})
    for v in results[0]:
        assert results[0][v] == pytest.approx(results[1][v], abs=1e-9)
        assert results[0][v] == pytest.approx(results[2][v], abs=1e-9)


def test_triangles_partitioning_invariant(spark, graph):
    from gminer_spark.graph.ktruss import k_truss
    from gminer_spark.graph.triangles import (
        triad_census,
        triangle_count,
        triangles_per_vertex,
    )

    def run(e):
        return (
            triangle_count(e),
            sorted(tuple(r) for r in triangles_per_vertex(e).collect()),
            tuple(triad_census(e).first()),
            sorted(tuple(r) for r in k_truss(e, k=3).collect()),
        )

    results = [run(e) for e in _variants(graph)]
    assert results[0][0] > 0 and results[0][3]
    assert results[0] == results[1] == results[2]


def test_round5_micro_ops_partitioning_invariant(spark, graph):
    """Katz / hitting-time / HITS / SALSA / temporal arrivals / WL
    colors / linkpred AUC / community metrics under two physical
    partitionings — exact integers or hashes, and float scores rounded
    to 9 digits, so equality is EXACT."""
    from pyspark.sql import functions as F

    from gminer_spark.graph import tables as gt
    from gminer_spark.graph.community_metrics import community_quality
    from gminer_spark.graph.hits import hits
    from gminer_spark.graph.hitting import hitting_time
    from gminer_spark.graph.katz import katz
    from gminer_spark.graph.linkpred import linkpred_auc
    from gminer_spark.graph.lpa import label_propagation
    from gminer_spark.graph.salsa import salsa
    from gminer_spark.graph.temporal import earliest_arrival
    from gminer_spark.graph.wl import wl_colors

    def run(e):
        out = {}
        out["katz"] = {
            r["id"]: r["katz_micro"] for r in katz(e, horizon=4).collect()
        }
        tgt = gt.vertices(e).where(F.col("id") % 7 == 0)
        out["hit"] = {
            r["id"]: r["hit_micro"]
            for r in hitting_time(e, tgt, horizon=4).collect()
        }
        out["hits"] = {
            r["id"]: (round(r["hub"], 9), round(r["auth"], 9))
            for r in hits(e, num_iter=4).collect()
        }
        out["salsa"] = {
            r["id"]: (round(r["hub"], 9), round(r["auth"], 9))
            for r in salsa(e, num_iter=4).collect()
        }
        out["wl"] = {r["id"]: r["color"] for r in wl_colors(e, rounds=3).collect()}
        te = e.select("src", "dst", (F.col("src") * 7 % 50).alias("t"))
        srcs = gt.vertices(e).where(F.col("id") % 7 == 0)
        out["temporal"] = {
            r["id"]: r["arrival"]
            for r in earliest_arrival(te, srcs, num_iter=3).collect()
        }
        out["auc"] = linkpred_auc(e, test_mod=4).collect()[0].asDict()
        labels = label_propagation(e, num_iter=3).state
        out["cq"] = {
            r["label"]: (
                r["n_nodes"], r["volume"], r["internal2"],
                r["cut"], r["q_micro"], r["conductance_micro"],
            )
            for r in community_quality(gt.symmetrize(e), labels).collect()
        }
        return out

    a, b = (run(e) for e in _variants(graph)[:2])
    for k in a:
        assert a[k] == b[k], k


def test_round5_session2_ops_partitioning_invariant(spark, graph):
    """Densest peel / DAG layers / k-center / widest paths / Boruvka
    MSF / Louvain moves under different physical partitionings —
    exact-integer trajectories, so equality is EXACT."""
    from pyspark.sql import functions as F

    from gminer_spark.graph.dag import dag_layers
    from gminer_spark.graph.densest import densest_subgraph
    from gminer_spark.graph.kcenter import k_center
    from gminer_spark.graph.louvain import louvain_moves
    from gminer_spark.graph.msf import minimum_spanning_forest
    from gminer_spark.graph.sssp import widest_paths

    def run(e):
        out = {}
        out["densest"] = {
            r["id"]: (r["removal_round"], r["in_densest"])
            for r in densest_subgraph(e, thr_num=2).collect()
        }
        dag = e.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        ).where(F.col("src") != F.col("dst"))
        out["layers"] = {
            r["id"]: r["layer"] for r in dag_layers(dag).collect()
        }
        out["kcenter"] = {
            r["id"]: (r["center"], r["dist"])
            for r in k_center(e, k=3, max_depth=8).collect()
        }
        we = e.select("src", "dst", (F.col("src") % 5 + 1).alias("w"))
        srcs = e.select(F.col("src").alias("id")).distinct().where(
            F.col("id") % 7 == 0
        )
        out["widest"] = {
            r["id"]: r["bottleneck"]
            for r in widest_paths(we, srcs).collect()
        }
        out["msf"] = {
            (r["src"], r["dst"], r["w"])
            for r in minimum_spanning_forest(we).collect()
        }
        out["louvain"] = {
            r["id"]: r["community"]
            for r in louvain_moves(e, num_rounds=3).collect()
        }
        return out

    a, b = (run(e) for e in _variants(graph)[:2])
    for k in a:
        assert a[k] == b[k], k


def test_peel_family_partitioning_invariant(spark, graph):
    """k-core / s-core / coreness (peel and h-index) / MIS / the focusco
    pull loop under different physical partitionings — membership and
    integer values, so equality is EXACT."""
    from pyspark.sql import functions as F

    from gminer_spark.graph.focusco import FocusCOParams, focused_clusters
    from gminer_spark.graph.kcore import coreness, coreness_hindex, k_core, s_core
    from gminer_spark.graph.mis import maximal_independent_set

    def run(e):
        we = e.select("src", "dst", (F.col("src") % 3 + 1).alias("w"))
        out = {}
        # k=6 and k=12 peel this graph for 5 and 9 rounds
        out["k_core"] = {r["id"] for r in k_core(e, k=6).collect()}
        out["s_core"] = {
            r["id"] for r in s_core(we, k=12, weight_col="w").collect()
        }
        out["coreness"] = {
            r["id"]: r["coreness"] for r in coreness(e).collect()
        }
        out["hindex"] = {
            r["id"]: r["coreness"] for r in coreness_hindex(e).collect()
        }
        out["hindex_num_iter"] = {
            r["id"]: r["coreness"]
            for r in coreness_hindex(e, num_iter=2).collect()
        }
        out["mis"] = {r["id"] for r in maximal_independent_set(e).collect()}
        wf = we.select("src", "dst", F.col("w").cast("double").alias("weight"))
        p = FocusCOParams(min_weight=2.0, min_core_size=3, min_result_size=2)
        out["focusco_pull"] = {
            (tuple(r["cluster"]), tuple(r["outlier"]), r["phi"])
            for r in focused_clusters(wf, p, full_graph_entries=0).collect()
        }
        return out

    a, b = (run(e) for e in _variants(graph)[:2])
    assert 0 < len(a["k_core"]) < len(a["coreness"])
    assert 0 < len(a["s_core"]) < len(a["coreness"])
    assert a["focusco_pull"]
    for k in a:
        assert a[k] == b[k], k


def test_fixpoint_loops_partitioning_invariant(spark, graph):
    """SCC / CPM / trussness / shortest paths / redirect resolution
    under different physical partitionings — ids, labels and integer
    distances, so equality is EXACT."""
    from pyspark.sql import functions as F

    from gminer_spark.graph.cpm import cpm_communities
    from gminer_spark.graph.scc import strongly_connected_components
    from gminer_spark.graph.sssp import shortest_paths
    from gminer_spark.graph.trussness import trussness
    from gminer_spark.web.edges import resolve_redirects

    def run(e):
        out = {}
        out["scc"] = {
            r["id"]: r["scc_id"]
            for r in strongly_connected_components(e).collect()
        }
        out["cpm"] = {
            (r["id"], r["community"]) for r in cpm_communities(e).collect()
        }
        out["trussness"] = {
            (r["src"], r["dst"]): r["trussness"] for r in trussness(e).collect()
        }
        srcs = e.select(F.col("src").alias("id")).distinct().where(
            F.col("id") % 7 == 0
        )
        we = e.select("src", "dst", (F.col("src") % 5 + 1).alias("w"))
        out["sssp"] = {
            r["id"]: r["dist"]
            for r in shortest_paths(we, srcs, weight_col="w").state.collect()
        }
        # src < dst: every chain climbs, so the redirect map is acyclic
        red = e.where(F.col("src") < F.col("dst")).select(
            F.concat(F.lit("u"), "src").alias("src_url"),
            F.concat(F.lit("u"), "dst").alias("dst_url"),
        )
        out["redirects"] = {
            r["src_url"]: (r["final_url"], r["hops"])
            for r in resolve_redirects(red).collect()
        }
        return out

    a, b = (run(e) for e in _variants(graph)[:2])
    assert a["cpm"] and a["redirects"]
    assert max(a["trussness"].values()) > 2
    assert len(set(a["scc"].values())) < len(a["scc"])
    assert max(h for _, h in a["redirects"].values()) > 1
    for k in a:
        assert a[k] == b[k], k
