"""Correctness of PageRank / CC / LPA / triangles vs numpy oracles."""

from __future__ import annotations

import numpy as np
import pytest

from tests.conftest import CYCLE6, K5, PATH5, STAR, TWOCOMP, edges_df, random_graph
from tests.oracle import graph_oracle as oracle

TOPOLOGIES = {
    "path5": PATH5,
    "cycle6": CYCLE6,
    "star": STAR,
    "k5": K5,
    "twocomp": TWOCOMP,
}


@pytest.mark.parametrize("name", list(TOPOLOGIES))
def test_pagerank_matches_oracle(spark, name):
    from gminer_spark.graph.pagerank import pagerank

    pairs = TOPOLOGIES[name]
    res = pagerank(edges_df(spark, pairs), tol=1e-9, max_iter=200)
    got = {r["id"]: r["rank"] for r in res.state.collect()}
    want = oracle.pagerank(pairs, tol=1e-9)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-6)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_weighted_matches_oracle(spark):
    from gminer_spark.graph.pagerank import pagerank

    rng = np.random.default_rng(7)
    pairs = random_graph(n=80, p=0.05)
    wpairs = [(s, d, float(rng.integers(1, 6))) for s, d in pairs]
    wdf = spark.createDataFrame(wpairs, "src long, dst long, w double")
    res = pagerank(wdf, num_iter=40, weight_col="w")
    got = {r["id"]: r["rank"] for r in res.state.collect()}
    want = oracle.pagerank_weighted(wpairs, num_iter=40)
    assert np.allclose(
        [got[v] for v in sorted(want)], [want[v] for v in sorted(want)], atol=1e-9
    )
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_weighted_unit_weights_equals_unweighted(spark):
    from gminer_spark.graph.pagerank import pagerank

    pairs = random_graph(n=60, p=0.05)
    base = pagerank(edges_df(spark, pairs), num_iter=20)
    wdf = spark.createDataFrame(
        [(s, d, 1.0) for s, d in pairs], "src long, dst long, w double"
    )
    weighted = pagerank(wdf, num_iter=20, weight_col="w")
    g1 = {r["id"]: r["rank"] for r in base.state.collect()}
    g2 = {r["id"]: r["rank"] for r in weighted.state.collect()}
    for v in g1:
        assert g2[v] == pytest.approx(g1[v], abs=1e-12)


def test_ppr_matches_oracle(spark):
    from gminer_spark.graph.pagerank import pagerank

    pairs = random_graph(n=80, p=0.05)
    seeds = sorted({s for s, _ in pairs})[:5]
    seed_df = spark.createDataFrame([(s,) for s in seeds], "id long")
    res = pagerank(edges_df(spark, pairs), num_iter=40, reset=seed_df)
    got = {r["id"]: r["rank"] for r in res.state.collect()}
    want = oracle.ppr(pairs, seeds, num_iter=40)
    assert np.allclose(
        [got[v] for v in sorted(want)], [want[v] for v in sorted(want)], atol=1e-9
    )
    # probability mass stays on the seeds' reachable set and sums to 1
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_ppr_unreachable_gets_zero(spark):
    from gminer_spark.graph.pagerank import pagerank

    # two components; seed only in the first — second must end at 0
    seed_df = spark.createDataFrame([(1,)], "id long")
    res = pagerank(edges_df(spark, TWOCOMP), num_iter=60, reset=seed_df)
    got = {r["id"]: r["rank"] for r in res.state.collect()}
    for v in (10, 11, 12):
        assert got[v] == pytest.approx(0.0, abs=1e-12)
    assert got[1] > 0.2


def test_pagerank_cycle_uniform(spark):
    from gminer_spark.graph.pagerank import pagerank

    res = pagerank(edges_df(spark, CYCLE6), tol=1e-10, max_iter=300)
    for r in res.state.collect():
        assert r["rank"] == pytest.approx(1 / 6, abs=1e-8)


def test_pagerank_random_graph(spark):
    from gminer_spark.graph.pagerank import pagerank

    pairs = random_graph(n=120, p=0.04)
    res = pagerank(edges_df(spark, pairs), tol=1e-9, max_iter=300)
    got = {r["id"]: r["rank"] for r in res.state.collect()}
    want = oracle.pagerank(pairs, tol=1e-9)
    assert np.allclose(
        [got[v] for v in sorted(want)], [want[v] for v in sorted(want)], atol=1e-6
    )


@pytest.mark.parametrize("name", ["path5", "star", "twocomp"])
def test_cc_matches_oracle(spark, name):
    from gminer_spark.graph.cc import connected_components

    pairs = TOPOLOGIES[name]
    res = connected_components(edges_df(spark, pairs))
    got = {r["id"]: r["component"] for r in res.state.collect()}
    assert got == oracle.cc(pairs)
    assert res.converged


def test_cc_random(spark):
    from gminer_spark.graph.cc import connected_components

    pairs = random_graph(n=150, p=0.008, directed=False)
    res = connected_components(edges_df(spark, pairs))
    got = {r["id"]: r["component"] for r in res.state.collect()}
    assert got == oracle.cc(pairs)


@pytest.mark.parametrize("name,iters", [("twocomp", 5), ("star", 3), ("k5", 4)])
def test_lpa_matches_oracle(spark, name, iters):
    from gminer_spark.graph.lpa import label_propagation

    pairs = TOPOLOGIES[name]
    res = label_propagation(edges_df(spark, pairs), num_iter=iters)
    got = {r["id"]: r["label"] for r in res.state.collect()}
    assert got == oracle.lpa_sync(pairs, num_iter=iters)


def test_lpa_random(spark):
    from gminer_spark.graph.lpa import label_propagation

    pairs = random_graph(n=100, p=0.05, directed=False)
    res = label_propagation(edges_df(spark, pairs), num_iter=4)
    got = {r["id"]: r["label"] for r in res.state.collect()}
    assert got == oracle.lpa_sync(pairs, num_iter=4)


@pytest.mark.parametrize("name,expected", [("k5", 10), ("path5", 0), ("twocomp", 1)])
def test_triangle_count_closed_form(spark, name, expected):
    from gminer_spark.graph.triangles import triangle_count

    assert triangle_count(edges_df(spark, TOPOLOGIES[name])) == expected


@pytest.mark.parametrize("orient", ["id", "degree"])
def test_triangle_count_random_both_orientations(spark, orient):
    from gminer_spark.graph.triangles import triangle_count

    pairs = random_graph(n=80, p=0.08, directed=False)
    assert triangle_count(edges_df(spark, pairs), orient=orient) == oracle.triangles(
        pairs
    )


def test_triangle_kernel_variant(spark):
    from gminer_spark.graph.triangles import triangle_count

    pairs = random_graph(n=60, p=0.1, directed=False)
    assert triangle_count(edges_df(spark, pairs)) == oracle.triangles(pairs)
    assert triangle_count(edges_df(spark, K5)) == 10


def test_triangles_per_vertex(spark):
    from gminer_spark.graph.triangles import triangles_per_vertex

    pairs = random_graph(n=50, p=0.12, directed=False)
    got = {
        r["id"]: r["triangles"]
        for r in triangles_per_vertex(edges_df(spark, pairs)).collect()
    }
    want = {v: c for v, c in oracle.triangles_per_vertex(pairs).items() if c > 0}
    assert got == want


def test_triangle_trace_property(spark):
    """trace(A^3)/6 cross-check (FIXTURES.md §4 property test)."""
    from gminer_spark.graph.triangles import triangle_count

    pairs = random_graph(n=40, p=0.15, directed=False)
    n = max(max(s, d) for s, d in pairs) + 1
    a = np.zeros((n, n))
    for s, d in pairs:
        a[s, d] = a[d, s] = 1
    want = int(round(np.trace(a @ a @ a) / 6))
    assert triangle_count(edges_df(spark, pairs)) == want


def test_empty_graph_all_algorithms(spark):
    """Empty edge tables degrade gracefully (no division by zero)."""
    from gminer_spark.graph.cc import connected_components
    from gminer_spark.graph.lpa import label_propagation
    from gminer_spark.graph.pagerank import pagerank

    empty = spark.createDataFrame([], "src long, dst long")
    r = pagerank(empty)
    assert r.converged and r.state.count() == 0
    assert connected_components(empty).state.count() == 0
    assert label_propagation(empty, num_iter=2).state.count() == 0


def test_incremental_cc_batches_equal_full_recompute(spark):
    from gminer_spark.graph.cc import CCMaintainer, connected_components

    pairs = random_graph(n=150, p=0.015, seed=21)
    thirds = [pairs[i::3] for i in range(3)]
    m = CCMaintainer()
    for batch in thirds:
        m.update(edges_df(spark, batch))
    got = {r["id"]: r["component"] for r in m.labels.collect()}
    want = oracle.cc(pairs)
    assert got == want
    # and bit-identical to a one-shot run
    full = {
        r["id"]: r["component"]
        for r in connected_components(edges_df(spark, pairs)).state.collect()
    }
    assert got == full


def test_incremental_cc_merges_components(spark):
    from gminer_spark.graph.cc import connected_components, incremental_cc

    base = connected_components(edges_df(spark, TWOCOMP)).state
    bridge = edges_df(spark, [(3, 10)])
    got = {r["id"]: r["component"] for r in incremental_cc(base, bridge).collect()}
    assert set(got.values()) == {1}  # everything collapses to min id 1


def test_incremental_cc_new_vertices_only(spark):
    from gminer_spark.graph.cc import connected_components, incremental_cc

    base = connected_components(edges_df(spark, PATH5)).state
    fresh = edges_df(spark, [(100, 101), (101, 102)])
    got = {r["id"]: r["component"] for r in incremental_cc(base, fresh).collect()}
    assert got[100] == got[101] == got[102] == 100
    assert got[1] == 1 and len(got) == 8


def test_pagerank_warm_start_same_fixpoint_fewer_supersteps(spark):
    """Warm-starting from the previous graph's ranks after an edge
    batch must converge to the SAME ranks as a cold run (the update is
    an L1 contraction) — and in strictly fewer supersteps."""
    from gminer_spark.graph.pagerank import pagerank

    pairs = random_graph(n=300, p=0.02, seed=17)
    old, batch = pairs[:-20], pairs[-20:]
    prev = pagerank(edges_df(spark, old), tol=1e-7, max_iter=200)
    cold = pagerank(edges_df(spark, pairs), tol=1e-7, max_iter=200)
    warm = pagerank(
        edges_df(spark, pairs), tol=1e-7, max_iter=200, init_state=prev.state
    )
    g_cold = {r["id"]: r["rank"] for r in cold.state.collect()}
    g_warm = {r["id"]: r["rank"] for r in warm.state.collect()}
    assert set(g_cold) == set(g_warm)
    for v in g_cold:
        assert g_warm[v] == pytest.approx(g_cold[v], abs=1e-6)
    assert warm.supersteps_run <= cold.supersteps_run
    # the warm start lands far closer to the fixpoint: its first
    # superstep's L1 delta is orders of magnitude below cold's
    assert warm.history[0]["delta"] < cold.history[0]["delta"] / 10


@pytest.mark.parametrize("weighted", [False, True])
def test_sssp_matches_dijkstra(spark, weighted):
    from gminer_spark.graph.sssp import shortest_paths

    rng = np.random.default_rng(5)
    pairs = random_graph(n=100, p=0.03, seed=5)
    sources = sorted({s for s, _ in pairs})[:3]
    src_df = spark.createDataFrame([(s,) for s in sources], "id long")
    if weighted:
        wpairs = [(s, d, int(rng.integers(1, 9))) for s, d in pairs]
        wdf = spark.createDataFrame(wpairs, "src long, dst long, w long")
        res = shortest_paths(wdf, src_df, weight_col="w")
        want = oracle.sssp(wpairs, sources)
    else:
        res = shortest_paths(edges_df(spark, pairs), src_df)
        want = oracle.sssp(pairs, sources)
    got = {r["id"]: r["dist"] for r in res.state.collect()}
    assert got == want
    assert res.converged


def test_sssp_directed_vs_undirected(spark):
    from gminer_spark.graph.sssp import shortest_paths

    src_df = spark.createDataFrame([(5,)], "id long")
    # path 1->2->3->4->5 directed: nothing reachable from 5 except itself
    res = shortest_paths(edges_df(spark, PATH5), src_df, directed=True)
    got = {r["id"]: r["dist"] for r in res.state.collect()}
    assert got == {5: 0}
    und = shortest_paths(edges_df(spark, PATH5), src_df, directed=False)
    got_u = {r["id"]: r["dist"] for r in und.state.collect()}
    assert got_u == {5: 0, 4: 1, 3: 2, 2: 3, 1: 4}


def test_lpa_weighted_matches_oracle(spark):
    from gminer_spark.graph.lpa import label_propagation

    rng = np.random.default_rng(11)
    pairs = random_graph(n=80, p=0.06, seed=11, directed=False)
    wpairs = [(s, d, int(rng.integers(1, 5))) for s, d in pairs]
    wdf = spark.createDataFrame(wpairs, "src long, dst long, w long")
    res = label_propagation(wdf, num_iter=4, weight_col="w")
    got = {r["id"]: r["label"] for r in res.state.collect()}
    assert got == oracle.lpa_weighted(wpairs, num_iter=4)


def test_lpa_weighted_unit_weights_equals_unweighted(spark):
    from gminer_spark.graph.lpa import label_propagation

    pairs = random_graph(n=60, p=0.06, seed=3, directed=False)
    wdf = spark.createDataFrame(
        [(s, d, 1) for s, d in pairs], "src long, dst long, w long"
    )
    a = {
        r["id"]: r["label"]
        for r in label_propagation(wdf, num_iter=3, weight_col="w").state.collect()
    }
    b = {
        r["id"]: r["label"]
        for r in label_propagation(edges_df(spark, pairs), num_iter=3).state.collect()
    }
    assert a == b


def test_random_walks_match_python_simulation(spark):
    """Deterministic walks: the md5-derived transition must reproduce a
    literal python simulation step for step."""
    import hashlib

    from gminer_spark.graph.walks import random_walks

    def h32_py(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    pairs = random_graph(n=40, p=0.1, seed=2, directed=False)
    adj: dict[int, list[int]] = {}
    for s, d in pairs:
        if s == d:
            continue
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    adj = {v: sorted(ns) for v, ns in adj.items()}

    walk_len, n_walks = 3, 2
    want = set()
    for start in adj:
        for wk in range(n_walks):
            v = start
            want.add((start, wk, 0, v))
            for t in range(1, walk_len + 1):
                v = adj[v][h32_py(f"w:{start}:{wk}:{t}:{v}") % len(adj[v])]
                want.add((start, wk, t, v))

    res = random_walks(edges_df(spark, pairs), walk_len=walk_len, walks_per_vertex=n_walks)
    got = {
        (r["start"], r["walk"], r["step"], r["vertex"]) for r in res.collect()
    }
    assert got == want


def test_random_walks_deterministic_under_partitioning(spark):
    from gminer_spark.graph.walks import random_walks

    pairs = random_graph(n=50, p=0.08, seed=8, directed=False)
    e1 = edges_df(spark, pairs).repartition(1)
    e2 = edges_df(spark, pairs).repartition(16)
    a = sorted(map(tuple, random_walks(e1, walk_len=2).collect()))
    b = sorted(map(tuple, random_walks(e2, walk_len=2).collect()))
    assert a == b


def test_skipgram_pairs_window_semantics(spark):
    from gminer_spark.graph.walks import skipgram_pairs

    walks = spark.createDataFrame(
        [(1, 0, 0, 10), (1, 0, 1, 11), (1, 0, 2, 12), (1, 0, 3, 13)],
        "start long, walk long, step long, vertex long",
    )
    got = sorted(
        (r["center"], r["context"])
        for r in skipgram_pairs(walks, window=1).collect()
    )
    assert got == [(10, 11), (11, 10), (11, 12), (12, 11), (12, 13), (13, 12)]


def _mis_greedy_oracle(pairs, seed="mis"):
    """Luby with fixed priorities == sequential greedy in priority
    order (lexicographically-first MIS)."""
    import hashlib

    def pri(v):
        h = int(hashlib.md5(f"{seed}:{v}".encode()).hexdigest()[:8], 16)
        return (h >> 1) * 2147483648 + v

    adj: dict[int, set[int]] = {}
    for s, d in pairs:
        if s == d:
            continue
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    mis: set[int] = set()
    for v in sorted(adj, key=pri):
        if not (adj[v] & mis):
            mis.add(v)
    return mis


@pytest.mark.parametrize("seed_graph", [4, 9])
def test_mis_matches_greedy_oracle(spark, seed_graph):
    from gminer_spark.graph.mis import maximal_independent_set

    pairs = random_graph(n=90, p=0.05, seed=seed_graph, directed=False)
    got = {r["id"] for r in maximal_independent_set(edges_df(spark, pairs)).collect()}
    assert got == _mis_greedy_oracle(pairs)


def test_mis_independent_and_maximal(spark):
    from gminer_spark.graph.mis import maximal_independent_set

    pairs = random_graph(n=70, p=0.08, seed=6, directed=False)
    got = {r["id"] for r in maximal_independent_set(edges_df(spark, pairs)).collect()}
    adj: dict[int, set[int]] = {}
    for s, d in pairs:
        if s == d:
            continue
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    for v in got:
        assert not (adj[v] & got)  # independent
    for v in adj:
        assert v in got or (adj[v] & got)  # maximal


@pytest.mark.parametrize("seed", [12, 25])
def test_betweenness_sampled_matches_brandes(spark, seed):
    from gminer_spark.graph.betweenness import betweenness_sampled

    pairs = random_graph(n=60, p=0.06, seed=seed, directed=False)
    verts = sorted({v for e in pairs for v in e})
    sources = verts[::7]
    src_df = spark.createDataFrame([(s,) for s in sources], "id long")
    got = {
        r["id"]: r["bc"]
        for r in betweenness_sampled(edges_df(spark, pairs), src_df).collect()
    }
    want = oracle.betweenness_sampled(pairs, sources)
    for v in want:
        assert got.get(v, 0.0) == pytest.approx(want[v], abs=1e-9)


def test_betweenness_path_closed_form(spark):
    """On a path 1-2-3-4-5 with source 1: delta = (3, 2, 1, 0) along
    the chain (textbook Brandes single-source dependencies)."""
    from gminer_spark.graph.betweenness import betweenness_sampled

    src_df = spark.createDataFrame([(1,)], "id long")
    got = {
        r["id"]: r["bc"]
        for r in betweenness_sampled(edges_df(spark, PATH5), src_df).collect()
    }
    assert got == {2: 3.0, 3: 2.0, 4: 1.0, 5: 0.0}


def test_harmonic_sampled_matches_python(spark):
    from gminer_spark.graph.betweenness import harmonic_sampled

    pairs = random_graph(n=60, p=0.06, seed=14, directed=False)
    verts = sorted({v for e in pairs for v in e})
    sources = verts[::6]
    dist = oracle.sssp(pairs, sources)  # min over set — not per-source!
    # per-source distances for the harmonic sum:
    want: dict[int, float] = {}
    for s in sources:
        d = oracle.sssp(pairs, [s])
        for v, dv in d.items():
            if v != s and dv > 0:
                want[v] = want.get(v, 0.0) + 1.0 / dv
    src_df = spark.createDataFrame([(s,) for s in sources], "id long")
    got = {
        r["id"]: r["harmonic"]
        for r in harmonic_sampled(edges_df(spark, pairs), src_df).collect()
    }
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-9)


def test_pagerank_maintainer_batches_reach_cold_fixpoint(spark):
    from gminer_spark.graph.pagerank import PageRankMaintainer, pagerank

    pairs = random_graph(n=150, p=0.03, seed=19)
    thirds = [pairs[i::3] for i in range(3)]
    m = PageRankMaintainer(tol=1e-8)
    for batch in thirds:
        m.update(edges_df(spark, batch))
    cold = pagerank(edges_df(spark, pairs), tol=1e-8)
    g_cold = {r["id"]: r["rank"] for r in cold.state.collect()}
    g_warm = {r["id"]: r["rank"] for r in m.ranks.collect()}
    assert set(g_cold) == set(g_warm)
    for v in g_cold:
        assert g_warm[v] == pytest.approx(g_cold[v], abs=1e-6)


def test_link_features_small_graph(spark):
    """K4 minus an edge: check cn/jaccard/RA by hand."""
    from gminer_spark.graph.linkpred import link_features

    # vertices 1,2,3,4; edges of K4 without (3,4)
    pairs = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4)]
    rows = {
        (r["src"], r["dst"]): (r["cn"], r["jaccard_micro"], r["ra_micro"])
        for r in link_features(edges_df(spark, pairs)).collect()
    }
    # edge (1,2): N(1)={2,3,4}, N(2)={1,3,4} → cn=2 {3,4}; deg3=deg4=2
    assert rows[(1, 2)] == (2, 500000, 1000000)  # 2/(3+3-2)=0.5; 1/2+1/2=1
    # edge (1,3): N(1)={2,3,4}, N(3)={1,2} → cn=1 {2}; deg2=3
    assert rows[(1, 3)][0] == 1
    assert rows[(1, 3)][1] == 250000  # 1/(3+2-1)
    assert rows[(1, 3)][2] == 333333  # 1/3


def test_clustering_coefficient_closed_forms(spark):
    from gminer_spark.graph.linkpred import clustering_coefficient

    from tests.conftest import K5

    got = {
        r["id"]: r["lcc_micro"]
        for r in clustering_coefficient(edges_df(spark, K5)).collect()
    }
    assert all(v == 1000000 for v in got.values())  # complete graph: lcc = 1
    got_p = {
        r["id"]: r["lcc_micro"]
        for r in clustering_coefficient(edges_df(spark, PATH5)).collect()
    }
    assert all(v == 0 for v in got_p.values())  # path: no triangles


def test_eccentricity_path(spark):
    from gminer_spark.graph.betweenness import eccentricity_sampled

    src_df = spark.createDataFrame([(1,), (3,)], "id long")
    got = {
        r["id"]: r["ecc"]
        for r in eccentricity_sampled(edges_df(spark, PATH5), src_df).collect()
    }
    assert got == {1: 4, 3: 2}


@pytest.mark.parametrize("agg", ["sum", "min", "max"])
def test_feature_propagation_matches_python(spark, agg):
    from gminer_spark.graph.features import feature_propagation

    pairs = random_graph(n=50, p=0.08, seed=23, directed=False)
    adj: dict[int, set[int]] = {}
    for s, d in pairs:
        if s == d:
            continue
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    f = {v: v % 7 for v in adj}
    fn = {"sum": sum, "min": min, "max": max}[agg]
    for _ in range(2):
        f = {v: fn(f[u] for u in adj[v]) for v in adj}
    feats = spark.createDataFrame(
        [(v, v % 7) for v in adj], "id long, f long"
    )
    got = {
        r["id"]: r["f"]
        for r in feature_propagation(
            edges_df(spark, pairs), feats, hops=2, agg=agg
        ).collect()
    }
    assert got == f


def test_ppr_batch_matches_per_seed_oracle(spark):
    """Each seed's vector must equal single-seed PPR run separately;
    absent rows mean rank 0 (unreached)."""
    from gminer_spark.graph.pagerank import ppr_batch

    pairs = random_graph(n=80, p=0.04, seed=27)
    verts = sorted({v for e in pairs for v in e})
    seeds = verts[:3]
    src_df = spark.createDataFrame([(s,) for s in seeds], "id long")
    res = ppr_batch(edges_df(spark, pairs), src_df, num_iter=30)
    got: dict[int, dict[int, float]] = {}
    for r in res.collect():
        got.setdefault(r["s"], {})[r["id"]] = r["rank"]
    for s in seeds:
        want = oracle.ppr(pairs, [s], num_iter=30)
        for v, w in want.items():
            assert got[s].get(v, 0.0) == pytest.approx(w, abs=1e-9), (s, v)


def test_weighted_walks_match_python_simulation(spark):
    """Weighted transitions: python replays the cumulative-weight draw
    (h32 mod strength lands in a neighbor's [lo, hi) interval)."""
    import hashlib

    from gminer_spark.graph.walks import random_walks

    def h32_py(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    rng = np.random.default_rng(31)
    pairs = random_graph(n=30, p=0.15, seed=31, directed=False)
    wpairs = [(s, d, int(rng.integers(1, 5))) for s, d in pairs]
    adj: dict[int, list[tuple[int, int]]] = {}
    for s, d, w in wpairs:
        if s == d:
            continue
        adj.setdefault(s, []).append((d, w))
        adj.setdefault(d, []).append((s, w))
    adj = {v: sorted(ns) for v, ns in adj.items()}

    def step(start, wk, t, v):
        total = sum(w for _, w in adj[v])
        r = h32_py(f"w:{start}:{wk}:{t}:{v}") % total
        acc = 0
        for u, w in adj[v]:
            if acc <= r < acc + w:
                return u
            acc += w
        raise AssertionError

    want = set()
    for start in adj:
        v = start
        want.add((start, 0, 0, v))
        for t in range(1, 3):
            v = step(start, 0, t, v)
            want.add((start, 0, t, v))

    wdf = spark.createDataFrame(wpairs, "src long, dst long, w long")
    res = random_walks(wdf, walk_len=2, walks_per_vertex=1, weight_col="w")
    got = {(r["start"], r["walk"], r["step"], r["vertex"]) for r in res.collect()}
    assert got == want


def test_degree_assortativity_matches_numpy(spark):
    """Contract query vs a numpy Pearson over endpoint degrees."""
    from gminer_spark.contract import build_queries

    import tempfile

    pairs = random_graph(n=60, p=0.08, seed=35, directed=False)
    # route through the real query by writing a lineitem-free check:
    # compute directly with the same engine code path via a local copy
    from pyspark.sql import functions as F

    from gminer_spark.graph import tables as gt

    e = edges_df(spark, pairs)
    sym = gt.symmetrize(e)
    deg = sym.groupBy("src").agg(F.count("*").cast("long").alias("deg"))
    rows = (
        sym.join(deg.select("src", F.col("deg").alias("x")), on="src")
        .join(
            deg.select(F.col("src").alias("dst"), F.col("deg").alias("y")),
            on="dst",
        )
        .select("x", "y")
        .collect()
    )
    xs = np.array([r["x"] for r in rows], dtype=float)
    ys = np.array([r["y"] for r in rows], dtype=float)
    want = np.corrcoef(xs, ys)[0, 1]
    m = len(xs)
    num = m * (xs * ys).sum() - xs.sum() * ys.sum()
    den = np.sqrt(
        (m * (xs * xs).sum() - xs.sum() ** 2)
        * (m * (ys * ys).sum() - ys.sum() ** 2)
    )
    assert num / den == pytest.approx(want, abs=1e-12)  # formula sanity


def test_eccentricity_ignores_sources_absent_from_graph(spark):
    """A source id that does not appear in the edge table must not
    emit a spurious ecc=0 row (ADVICE r2: _bfs_levels seeded the
    frontier without intersecting the vertex set)."""
    from gminer_spark.graph.betweenness import eccentricity_sampled

    src_df = spark.createDataFrame([(1,), (999,)], "id long")
    got = {
        r["id"]: r["ecc"]
        for r in eccentricity_sampled(edges_df(spark, PATH5), src_df).collect()
    }
    assert got == {1: 4}


def test_node2vec_walks_match_python_simulation(spark):
    """node2vec second-order transitions (integer ret/in/out biases)
    must reproduce a literal python simulation step for step."""
    import hashlib

    from gminer_spark.graph.walks import random_walks_node2vec

    def h32_py(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    pairs = random_graph(n=40, p=0.1, seed=5, directed=False)
    adj: dict[int, list[int]] = {}
    nbset: dict[int, set[int]] = {}
    for s, d in pairs:
        if s == d:
            continue
        nbset.setdefault(s, set()).add(d)
        nbset.setdefault(d, set()).add(s)
    adj = {v: sorted(ns) for v, ns in nbset.items()}

    rb, ib, ob = 4, 2, 1
    walk_len, n_walks = 3, 2
    want = set()
    for start in adj:
        for wk in range(n_walks):
            v = start
            want.add((start, wk, 0, v))
            # step 1: uniform
            prev, v = v, adj[v][h32_py(f"n2v:{start}:{wk}:1:{v}") % len(adj[v])]
            want.add((start, wk, 1, v))
            for t in range(2, walk_len + 1):
                biases = [
                    rb if c == prev else (ib if c in nbset[prev] else ob)
                    for c in adj[v]
                ]
                tot = sum(biases)
                draw = h32_py(f"n2v:{start}:{wk}:{t}:{v}") % tot
                acc = 0
                for c, b in zip(adj[v], biases):
                    if acc <= draw < acc + b:
                        nxt = c
                        break
                    acc += b
                prev, v = v, nxt
                want.add((start, wk, t, v))

    res = random_walks_node2vec(
        edges_df(spark, pairs),
        walk_len=walk_len,
        walks_per_vertex=n_walks,
        ret_bias=rb,
        in_bias=ib,
        out_bias=ob,
    )
    got = {(r["start"], r["walk"], r["step"], r["vertex"]) for r in res.collect()}
    assert got == want


def test_node2vec_deterministic_under_partitioning(spark):
    from gminer_spark.graph.walks import random_walks_node2vec

    pairs = random_graph(n=50, p=0.08, seed=13, directed=False)
    e1 = edges_df(spark, pairs).repartition(1)
    e2 = edges_df(spark, pairs).repartition(16)
    kw = dict(walk_len=3, ret_bias=3, in_bias=2, out_bias=1)
    a = sorted(map(tuple, random_walks_node2vec(e1, **kw).collect()))
    b = sorted(map(tuple, random_walks_node2vec(e2, **kw).collect()))
    assert a == b


def test_hits_matches_numpy_power_iteration(spark):
    """HITS vs a literal numpy replication (same L1 normalization)."""
    import numpy as np

    from gminer_spark.graph.hits import hits

    pairs = random_graph(n=30, p=0.12, seed=44, directed=True)
    pairs = [(a, b) for a, b in pairs if a != b]
    ids = sorted({v for e in pairs for v in e})
    idx = {v: i for i, v in enumerate(ids)}
    A = np.zeros((len(ids), len(ids)))
    for a, b in set(pairs):
        A[idx[a], idx[b]] = 1.0
    h = np.ones(len(ids))
    a = np.ones(len(ids))
    for _ in range(10):
        a = A.T @ h
        a = a / a.sum()
        h = A @ a
        h = h / h.sum()
    got = {
        r["id"]: (r["hub"], r["auth"])
        for r in hits(edges_df(spark, pairs), num_iter=10).collect()
    }
    for v in ids:
        assert abs(got[v][0] - h[idx[v]]) < 1e-9
        assert abs(got[v][1] - a[idx[v]]) < 1e-9


def test_salsa_matches_numpy_power_iteration(spark):
    """SALSA vs a literal numpy replication: HITS's loop with the
    row/column-stochastic (degree-normalized) matrices."""
    import numpy as np

    from gminer_spark.graph.salsa import salsa

    pairs = random_graph(n=30, p=0.12, seed=45, directed=True)
    pairs = [(a, b) for a, b in pairs if a != b]
    ids = sorted({v for e in pairs for v in e})
    idx = {v: i for i, v in enumerate(ids)}
    A = np.zeros((len(ids), len(ids)))
    for a, b in set(pairs):
        A[idx[a], idx[b]] = 1.0
    out_deg = A.sum(axis=1)
    in_deg = A.sum(axis=0)
    Wr = np.divide(A, out_deg[:, None], where=out_deg[:, None] > 0)
    Wc = np.divide(A, in_deg[None, :], where=in_deg[None, :] > 0)
    h = np.ones(len(ids))
    a = np.ones(len(ids))
    for _ in range(10):
        a = Wr.T @ h
        a = a / a.sum()
        h = Wc @ a
        h = h / h.sum()
    got = {
        r["id"]: (r["hub"], r["auth"])
        for r in salsa(edges_df(spark, pairs), num_iter=10).collect()
    }
    for v in ids:
        assert abs(got[v][0] - h[idx[v]]) < 1e-9
        assert abs(got[v][1] - a[idx[v]]) < 1e-9


def test_salsa_damps_tight_community_vs_hits(spark):
    """The Lempel-Moran motivation: a complete digraph (the
    tightly-knit community) plus one high-in-degree star hub.  HITS
    concentrates authority inside the clique (K6's A^T A eigenvalue
    4n+1-2n = 25 beats the star's 20); SALSA's stochastic walk gives
    the star target the top authority (mass ~ in-degree share)."""
    from gminer_spark.graph.hits import hits
    from gminer_spark.graph.salsa import salsa

    clique = [(a, b) for a in range(6) for b in range(6) if a != b]
    star = [(s, 99) for s in range(10, 30)]
    edges = edges_df(spark, clique + star)
    s = {r["id"]: r["auth"] for r in salsa(edges, num_iter=20).collect()}
    hres = {r["id"]: r["auth"] for r in hits(edges, num_iter=20).collect()}
    assert s[99] == max(s.values())
    assert hres[99] < max(hres.values())  # HITS keeps the clique on top


def test_hitting_time_matches_python_value_iteration(spark):
    """Truncated hitting time vs a literal python replication of the
    micro-int value iteration (exact equality — no float tolerance,
    the whole point of the micro-int formulation)."""
    from gminer_spark.graph.hitting import MICRO, hitting_time

    pairs = random_graph(n=40, p=0.08, seed=7, directed=True)
    pairs = sorted({(a, b) for a, b in pairs if a != b})
    ids = sorted({v for e in pairs for v in e})
    targets = {v for v in ids if v % 5 == 0}
    horizon = 6
    cap = horizon * MICRO
    out = {v: [] for v in ids}
    for a, b in pairs:
        out[a].append(b)
    h = {v: 0 if v in targets else cap for v in ids}
    for _ in range(horizon):
        nh = {}
        for v in ids:
            if v in targets:
                nh[v] = 0
            elif not out[v]:
                nh[v] = cap
            else:
                s = sum(h[u] for u in out[v])
                # float(s)/deg then round-half-up matches Spark F.round
                import decimal

                q = decimal.Decimal(float(s) / len(out[v])).quantize(
                    decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP
                )
                nh[v] = min(cap, MICRO + int(q))
        h = nh
    e = edges_df(spark, pairs)
    tdf = spark.createDataFrame([(v,) for v in sorted(targets)], "id long")
    got = {
        r["id"]: r["hit_micro"]
        for r in hitting_time(e, tdf, horizon=horizon).collect()
    }
    assert got == h


def test_hitting_time_simple_path(spark):
    """Path 0->1->2 with target {2}: h(1)=1 step, h(0)=2 steps; a
    vertex with no outgoing edges and not a target stays at cap."""
    from gminer_spark.graph.hitting import MICRO, hitting_time

    e = edges_df(spark, [(0, 1), (1, 2), (3, 3)])
    tdf = spark.createDataFrame([(2,)], "id long")
    got = {
        r["id"]: r["hit_micro"] for r in hitting_time(e, tdf, horizon=6).collect()
    }
    assert got[2] == 0
    assert got[1] == MICRO
    assert got[0] == 2 * MICRO
    # 3 only self-loops: never reaches the target -> capped
    assert got[3] == 6 * MICRO


def test_linkpred_auc_matches_python_replication(spark):
    """AUC vs a literal python replication of the split + CN scoring
    + midrank Mann-Whitney — exact integer equality."""
    import hashlib

    from gminer_spark.graph.linkpred import linkpred_auc

    def h32(sx):
        return int(hashlib.md5(sx.encode()).hexdigest()[:8], 16)

    pairs = random_graph(n=40, p=0.12, seed=23)
    ce = sorted({(min(a, b), max(a, b)) for a, b in pairs if a != b})
    test = [(a, b) for a, b in ce if h32(f"lpsplit:{a}:{b}") % 5 == 0]
    train = [(a, b) for a, b in ce if h32(f"lpsplit:{a}:{b}") % 5 != 0]
    nbrs = {}
    for a, b in train:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    cn = {}
    for c, ns in nbrs.items():
        ns = sorted(ns)
        for i in range(len(ns)):
            for j in range(i + 1, len(ns)):
                k = (ns[i], ns[j])
                cn[k] = cn.get(k, 0) + 1
    pos = [cn.get(p, 0) for p in test]
    eset = set(ce)
    neg = [v for k, v in cn.items() if k not in eset]
    u2 = sum(
        sum(2 for n in neg if n < p) + sum(1 for n in neg if n == p)
        for p in pos
    )
    want_auc = round(u2 / (2 * len(pos) * len(neg)) * 1e6)
    r = linkpred_auc(edges_df(spark, ce), test_mod=5).collect()[0]
    assert (r["n_pos"], r["n_neg"]) == (len(pos), len(neg))
    assert (r["pos_score_sum"], r["neg_score_sum"]) == (sum(pos), sum(neg))
    assert r["auc_micro"] == want_auc


def test_linkpred_auc_perfect_and_empty(spark):
    """A graph where every held-out edge has more training common
    neighbors than every non-edge gives AUC 1.0; the empty-side
    convention returns 0.5."""
    from gminer_spark.graph.linkpred import linkpred_auc

    # K5: dense enough that held-out edges keep CN 3 while distance-2
    # negatives don't exist (K5 minus a few edges is still diameter 1)
    k5 = [(a, b) for a in range(5) for b in range(5) if a < b]
    r = linkpred_auc(edges_df(spark, k5), test_mod=3).collect()[0]
    if r["n_neg"] == 0 or r["n_pos"] == 0:
        assert r["auc_micro"] == 500_000
    else:
        assert 0 <= r["auc_micro"] <= 1_000_000


def test_temporal_earliest_arrival_blocks_backward_paths(spark):
    """0 -t=5-> 1 -t=3-> 2: statically 2 is reachable from 0, but the
    time-respecting path is blocked (3 < 5); a later edge 1 -t=7-> 3
    works.  Exact integer arrivals."""
    from gminer_spark.graph.temporal import INF, earliest_arrival

    te = spark.createDataFrame(
        [(0, 1, 5), (1, 2, 3), (1, 3, 7)], "src long, dst long, t long"
    )
    src = spark.createDataFrame([(0,)], "id long")
    got = {
        r["id"]: r["arrival"]
        for r in earliest_arrival(te, src, num_iter=4).collect()
    }
    assert got == {0: 0, 1: 5, 2: INF, 3: 7}


def test_temporal_earliest_arrival_matches_python(spark):
    """Random temporal graph vs a literal python replication of the
    min-arrival value iteration."""
    import hashlib

    from gminer_spark.graph.temporal import INF, earliest_arrival

    pairs = random_graph(n=30, p=0.1, seed=9, directed=True)
    te = sorted(
        {
            (a, b, int(hashlib.md5(f"t:{a}:{b}".encode()).hexdigest()[:4], 16) % 50)
            for a, b in pairs
            if a != b
        }
    )
    ids = sorted({v for a, b, _ in te for v in (a, b)})
    srcs = {v for v in ids if v % 7 == 0}
    arr = {v: 0 if v in srcs else INF for v in ids}
    for _ in range(4):
        msgs = {}
        for a, b, t in te:
            if t >= arr[a]:
                msgs[b] = min(msgs.get(b, INF), t)
        arr = {v: min(arr[v], msgs.get(v, INF)) for v in ids}
    got = {
        r["id"]: r["arrival"]
        for r in earliest_arrival(
            spark.createDataFrame(te, "src long, dst long, t long"),
            spark.createDataFrame([(v,) for v in sorted(srcs)], "id long"),
            num_iter=4,
        ).collect()
    }
    assert got == arr


def test_katz_matches_python_value_iteration(spark):
    """Truncated Katz vs a literal integer replication — exact
    equality (pure BIGINT arithmetic, no float anywhere)."""
    from gminer_spark.graph.katz import ATT, CAP, MICRO, katz

    pairs = random_graph(n=35, p=0.1, seed=11, directed=True)
    pairs = sorted({(a, b) for a, b in pairs if a != b})
    ids = sorted({v for e in pairs for v in e})
    inn = {v: [] for v in ids}
    for a, b in pairs:
        inn[b].append(a)
    horizon = 6
    x = {v: MICRO for v in ids}
    for _ in range(horizon):
        x = {
            v: MICRO + min(CAP, (sum(x[u] for u in inn[v]) + ATT // 2) // ATT)
            for v in ids
        }
    got = {
        r["id"]: r["katz_micro"]
        for r in katz(edges_df(spark, pairs), horizon=horizon).collect()
    }
    assert got == x


def test_katz_star_ranks_center(spark):
    """High-in-degree target outranks its spokes; attenuation keeps
    2-hop contributions smaller than 1-hop."""
    from gminer_spark.graph.katz import ATT, MICRO, katz

    star = [(s, 99) for s in range(10)] + [(99, 100)]
    got = {r["id"]: r["katz_micro"] for r in katz(edges_df(spark, star)).collect()}
    assert got[99] == max(got.values())
    assert got[0] == MICRO  # no in-edges
    # 100 receives from 99 only; 99 receives from 10 spokes
    assert got[100] < got[99]
    assert got[99] > MICRO + 10 * MICRO // ATT - ATT


def test_community_quality_two_cliques_bridge(spark):
    """Two 4-cliques joined by one bridge edge, labeled by clique:
    exact integer volumes/cuts and the hand-computed modularity and
    conductance terms."""
    from pyspark.sql import functions as F

    from gminer_spark.graph import tables as gt
    from gminer_spark.graph.community_metrics import community_quality

    c1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    c2 = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    bridge = [(0, 10)]
    e = edges_df(spark, c1 + c2 + bridge)
    labels = spark.createDataFrame(
        [(v, 1) for v in range(4)] + [(v, 2) for v in range(10, 14)],
        "id long, label long",
    )
    rows = {
        r["label"]: r
        for r in community_quality(gt.symmetrize(e), labels).collect()
    }
    # 13 undirected edges -> m2 = 26; each clique: 12 internal directed,
    # volume 13 (12 + 1 bridge endpoint), cut 1
    for lb in (1, 2):
        r = rows[lb]
        assert (r["n_nodes"], r["volume"], r["internal2"], r["cut"]) == (
            4, 13, 12, 1,
        )
        # Q_c = (12*26 - 169)/676 = 143/676
        assert r["q_micro"] == round(143 / 676 * 1e6)
        # phi = 1/min(13, 13) = 1/13
        assert r["conductance_micro"] == round(1 / 13 * 1e6)


def test_community_quality_whole_graph_label(spark):
    """A single label covering everything: cut 0, conductance 0 by
    convention, Q = (m2*m2 - m2^2)/m2^2 = 0."""
    from gminer_spark.graph import tables as gt
    from gminer_spark.graph.community_metrics import community_quality

    e = edges_df(spark, [(0, 1), (1, 2), (2, 0)])
    labels = spark.createDataFrame([(v, 7) for v in range(3)], "id long, label long")
    r = community_quality(gt.symmetrize(e), labels).collect()[0]
    assert (r["cut"], r["conductance_micro"], r["q_micro"]) == (0, 0, 0)


def test_bowtie_hand_graph(spark):
    """Directed 2-cycle core with an in-tail, out-tail and an isolated
    edge — every bow-tie class exercised."""
    from gminer_spark.graph.reach import bowtie

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (0, 1), (2, 3), (8, 9)],
        "src long, dst long",
    )
    got = {r["id"]: r["region"] for r in bowtie(edges, pivot=1).collect()}
    assert got == {1: "SCC", 2: "SCC", 0: "IN", 3: "OUT", 8: "OTHER", 9: "OTHER"}


def test_reachable_cap_warns_and_truncates(spark):
    """A 6-link directed path from 0: a cap of 3 levels warns and stops
    at vertex 3; without a cap every vertex is reached, silently."""
    import warnings

    from gminer_spark.graph.reach import reachable

    edges = edges_df(spark, [(i, i + 1) for i in range(6)])
    src = spark.createDataFrame([(0,)], "id long")
    with pytest.warns(UserWarning, match="TRUNCATED"):
        capped = {r["id"] for r in reachable(edges, src, max_iter=3).collect()}
    assert capped == {0, 1, 2, 3}
    with warnings.catch_warnings(record=True) as seen:
        warnings.simplefilter("always")
        full = {r["id"] for r in reachable(edges, src).collect()}
    assert full == set(range(7))
    assert [str(w.message) for w in seen if "TRUNCATED" in str(w.message)] == []


def test_hits_one_action_per_iteration(spark, monkeypatch):
    """VERDICT r3 #4: fixed-iter HITS must drive each iteration with a
    SINGLE action (the round's barrier) — no driver-side .first()
    normalizer collects, no per-half-step checkpoints."""
    from pyspark.sql import DataFrame

    import gminer_spark.graph.hits as hits_mod
    from gminer_spark.graph import tables

    calls = {"barrier": 0}
    orig = tables.plan_barrier

    def counting_barrier(df, eager=True):
        calls["barrier"] += 1
        return orig(df, eager=eager)

    monkeypatch.setattr(hits_mod.tables, "plan_barrier", counting_barrier)

    def no_first(self, *a, **k):
        raise AssertionError("driver .first() inside fixed-iter HITS")

    monkeypatch.setattr(DataFrame, "first", no_first)

    pairs = random_graph(n=25, p=0.15, seed=45, directed=True)
    pairs = [(a, b) for a, b in pairs if a != b]
    res = hits_mod.hits(edges_df(spark, pairs), num_iter=4)
    assert res.count() > 0
    # one per iteration; the init is checkpointed by run_supersteps
    assert calls["barrier"] == 4


def _kosaraju(pairs):
    """Reference SCC: two-pass Kosaraju, components keyed by min id."""
    from collections import defaultdict

    g, gr = defaultdict(list), defaultdict(list)
    verts = set()
    for a, b in pairs:
        if a == b:
            verts.add(a)
            continue
        g[a].append(b)
        gr[b].append(a)
        verts.update((a, b))
    seen, order = set(), []
    for s in verts:
        if s in seen:
            continue
        seen.add(s)
        stack = [(s, iter(g[s]))]
        while stack:
            v, it = stack[-1]
            advanced = False
            for w in it:
                if w not in seen:
                    seen.add(w)
                    stack.append((w, iter(g[w])))
                    advanced = True
                    break
            if not advanced:
                order.append(v)
                stack.pop()
    comp = {}
    for s in reversed(order):
        if s in comp:
            continue
        stack, members = [s], []
        while stack:
            v = stack.pop()
            if v in comp:
                continue
            comp[v] = s
            members.append(v)
            stack.extend(w for w in gr[v] if w not in comp)
        m = min(members)
        for v in members:
            comp[v] = m
    return comp


def test_scc_matches_kosaraju(spark):
    """Full SCC decomposition vs a literal Kosaraju on random directed
    graphs spanning one-giant-SCC and many-small-SCC regimes."""
    from gminer_spark.graph.scc import strongly_connected_components

    for seed, n, p in [(11, 30, 0.08), (12, 50, 0.04), (13, 40, 0.12)]:
        pairs = random_graph(n=n, p=p, seed=seed, directed=True)
        exp = _kosaraju(pairs)
        got = {
            r["id"]: r["scc_id"]
            for r in strongly_connected_components(
                edges_df(spark, pairs)
            ).collect()
        }
        assert got == exp, f"seed {seed}"


def test_scc_hand_graph_and_trim_tail(spark):
    """Two 2-cycles joined by a DAG chain — exercises both the trim
    path (chain links) and the coloring path (cycles)."""
    from gminer_spark.graph.scc import strongly_connected_components

    pairs = [
        (1, 2), (2, 1),          # SCC {1,2}
        (2, 3), (3, 4), (4, 5),  # chain (trim fodder)
        (5, 6), (6, 5),          # SCC {5,6}
        (7, 8),                  # isolated pair of singletons
    ]
    got = {
        r["id"]: r["scc_id"]
        for r in strongly_connected_components(edges_df(spark, pairs)).collect()
    }
    assert got == {1: 1, 2: 1, 3: 3, 4: 4, 5: 5, 6: 5, 7: 7, 8: 8}


def test_scc_deterministic_under_partitioning(spark):
    from gminer_spark.graph.scc import strongly_connected_components

    pairs = random_graph(n=45, p=0.06, seed=14, directed=True)
    e1 = edges_df(spark, pairs).repartition(2)
    e2 = edges_df(spark, pairs).repartition(16)
    a = sorted(map(tuple, strongly_connected_components(e1).collect()))
    b = sorted(map(tuple, strongly_connected_components(e2).collect()))
    assert a == b


def test_condensation_dag(spark):
    """Condensation of the hand graph: SCCs contracted to min ids,
    cross-component edges deduped, result acyclic."""
    from gminer_spark.graph.scc import condensation

    pairs = [
        (1, 2), (2, 1),          # SCC {1,2}
        (2, 3), (3, 4), (4, 5),  # chain
        (5, 6), (6, 5),          # SCC {5,6}
        (1, 3),                  # duplicate contracted edge 1->3
        (7, 8),
    ]
    got = sorted(
        (r["src_scc"], r["dst_scc"])
        for r in condensation(edges_df(spark, pairs)).collect()
    )
    assert got == [(1, 3), (3, 4), (4, 5), (7, 8)]
    # acyclic: Kahn peeling consumes every vertex
    verts = {v for e in got for v in e}
    edges = set(got)
    while True:
        sinks = {v for v in verts if not any(s == v for s, _ in edges)}
        if not sinks:
            break
        verts -= sinks
        edges = {(s, d) for s, d in edges if d not in sinks}
    assert not verts


def test_condensation_reuses_precomputed_scc(spark):
    from gminer_spark.graph.scc import condensation, strongly_connected_components

    pairs = random_graph(n=40, p=0.08, seed=21, directed=True)
    e = edges_df(spark, pairs)
    scc = strongly_connected_components(e).localCheckpoint()
    a = sorted(map(tuple, condensation(e, scc=scc).collect()))
    b = sorted(map(tuple, condensation(e).collect()))
    assert a == b and len(a) > 0


def test_reciprocity_known(spark):
    """(1,2),(2,1) reciprocal; (1,3) not; dup rows and self-loop
    collapse/drop before counting."""
    from gminer_spark.graph.structure import reciprocity

    e = edges_df(
        spark, [(1, 2), (2, 1), (1, 3), (1, 3), (4, 4)]
    )
    r = reciprocity(e).collect()[0]
    assert (r["n_edges"], r["n_reciprocal"]) == (3, 2)
    assert r["reciprocity_micro"] == round(2 / 3 * 1e6)


def test_degree_assortativity_known(spark):
    """Matches a numpy Pearson over (out_deg(src), in_deg(dst)) pairs."""
    import numpy as np

    from gminer_spark.graph.structure import degree_assortativity

    pairs = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 1), (4, 2), (2, 4)]
    outd: dict[int, int] = {}
    ind: dict[int, int] = {}
    for s, d in pairs:
        outd[s] = outd.get(s, 0) + 1
        ind[d] = ind.get(d, 0) + 1
    x = np.array([outd[s] for s, _ in pairs], dtype=float)
    y = np.array([ind[d] for _, d in pairs], dtype=float)
    expect = np.corrcoef(x, y)[0, 1]
    r = degree_assortativity(edges_df(spark, pairs)).collect()[0]
    assert r["n_edges"] == len(pairs)
    assert r["assortativity_micro"] == round(expect * 1e6)


def test_anf_matches_duckdb_and_truth(spark):
    """Spark ANF is bit-identical to the unrolled DuckDB witness on a
    small graph, N(r) is nondecreasing, and the r=0 row estimates |V|
    within HLL error."""
    import duckdb

    from gminer_spark.graph.anf import (
        neighborhood_function,
        neighborhood_function_oracle_sql,
    )

    pairs = [(1, 2), (2, 3), (3, 4), (4, 5), (1, 3), (5, 6), (6, 7)]
    vals = ",".join(f"({s},{d})" for s, d in pairs)
    cte = f"edges AS (SELECT * FROM (VALUES {vals}) t(src, dst))"
    got = sorted(
        (r["r"], r["n_pairs_est_micro"])
        for r in neighborhood_function(edges_df(spark, pairs), radius=3).collect()
    )
    con = duckdb.connect()
    want = sorted(
        map(tuple, con.sql(neighborhood_function_oracle_sql(cte, 3)).fetchall())
    )
    assert got == want
    ns = [n for _, n in got]
    assert all(b >= a for a, b in zip(ns, ns[1:]))  # balls only grow
    assert abs(ns[0] / 1e6 - 7) / 7 < 0.5  # |V|=7 within coarse HLL error


def test_anf_deterministic_under_partitioning(spark):
    """Same result at different shuffle layouts — register pushes are
    max-aggregated, so partition order cannot leak into the output."""
    from gminer_spark.graph.anf import neighborhood_function

    pairs = [(i, (i * 7) % 23 + 1) for i in range(1, 60)]
    e = edges_df(spark, pairs)
    a = sorted(map(tuple, neighborhood_function(e, radius=2).collect()))
    b = sorted(
        map(
            tuple,
            neighborhood_function(e.repartition(7, "dst"), radius=2).collect(),
        )
    )
    assert a == b


def test_effective_diameter_interpolation(spark):
    """Readout math on a hand-built N(r) table: target 0.9*100, hit
    between r=1 (n=50) and r=2 (n=95)... actually 95>=90 -> between
    1 and 2: eff = 1 + (90-50)/(95-50) = 1.888..."""
    from gminer_spark.graph.anf import effective_diameter_micro

    nf = spark.createDataFrame(
        [(0, 10_000_000), (1, 50_000_000), (2, 95_000_000), (3, 100_000_000)],
        "r long, n_pairs_est_micro long",
    )
    got = effective_diameter_micro(nf, q=0.9).collect()[0][0]
    expect = 1 + (0.9 * 100_000_000 - 50_000_000) / (95_000_000 - 50_000_000)
    import math

    assert got == int(math.floor(expect * 1e6 + 0.5))


def test_ball_sizes_matches_duckdb(spark):
    """Per-vertex HyperBall readout is bit-identical to the unrolled
    witness; on a path graph the radius-2 ball of an interior vertex
    estimates ~5 vertices."""
    import duckdb

    from gminer_spark.graph.anf import ball_sizes, ball_sizes_oracle_sql

    pairs = [(i, i + 1) for i in range(1, 10)]
    vals = ",".join(f"({s},{d})" for s, d in pairs)
    cte = f"edges AS (SELECT * FROM (VALUES {vals}) t(src, dst))"
    got = sorted(
        (r["id"], r["ball_size_micro"])
        for r in ball_sizes(edges_df(spark, pairs), radius=2).collect()
    )
    con = duckdb.connect()
    want = sorted(map(tuple, con.sql(ball_sizes_oracle_sql(cte, 2)).fetchall()))
    assert got == want
    by_id = dict(got)
    assert abs(by_id[5] / 1e6 - 5) < 2.5  # interior: {3,4,5,6,7}


# -- landmark distance sketches ----------------------------------------------


def _true_dists(pairs):
    """All-pairs BFS hop distances via networkx-free python BFS."""
    from collections import deque

    adj = {}
    for s, d in pairs:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    dist = {}
    for s in adj:
        dq, seen = deque([(s, 0)]), {s}
        while dq:
            v, dv = dq.popleft()
            dist[(s, v)] = dv
            for w in adj[v]:
                if w not in seen:
                    seen.add(w)
                    dq.append((w, dv + 1))
    return dist


def test_landmark_estimates_are_upper_bounds(spark):
    from pyspark.sql import functions as F

    from gminer_spark.graph.landmarks import estimate_distances, landmark_sketch

    pairs = random_graph(n=80, p=0.05, seed=11, directed=False)
    e = edges_df(spark, pairs)
    sk = landmark_sketch(e, k=4, max_depth=15)
    verts = sorted({x for p in pairs for x in p})
    qp = spark.createDataFrame(
        [(int(u), int(v)) for u in verts[:10] for v in verts[-10:] if u < v],
        "u long, v long",
    )
    est = {(r.u, r.v): r.est for r in estimate_distances(sk, qp).collect()}
    true = _true_dists(pairs)
    assert est, "no estimates produced"
    for (u, v), ev in est.items():
        t = true.get((u, v))
        if t is not None:
            assert ev >= t, f"estimate {ev} below true distance {t} for {(u, v)}"
    # landmark-to-anything estimates are exact when u is a landmark
    lms = {r.landmark for r in sk.select("landmark").distinct().collect()}
    for (u, v), ev in est.items():
        if u in lms and (u, v) in true:
            assert ev == true[(u, v)]


def test_landmark_sketch_deterministic_under_partitioning(spark):
    from gminer_spark.graph.landmarks import landmark_sketch

    pairs = random_graph(n=60, p=0.06, seed=7, directed=False)
    e1 = edges_df(spark, pairs)
    e2 = edges_df(spark, pairs).repartition(7)
    r1 = sorted(map(tuple, landmark_sketch(e1, k=3, max_depth=15).collect()))
    r2 = sorted(map(tuple, landmark_sketch(e2, k=3, max_depth=15).collect()))
    assert r1 == r2


def test_landmark_sketch_path_exact(spark):
    from gminer_spark.graph.landmarks import landmark_sketch

    e = edges_df(spark, PATH5)
    sk = {(r.landmark, r.id): r.dist for r in landmark_sketch(e, k=1, max_depth=10).collect()}
    # top-degree landmark on PATH5 is vertex 2 (deg 2, min id among deg-2)
    assert sk == {(2, 2): 0, (2, 1): 1, (2, 3): 1, (2, 4): 2, (2, 5): 3}


# -- co-citation / bibliographic coupling ------------------------------------


def _brute_pairs(pairs, by_in):
    """Python wedge counts: by_in=True → co-citation (shared citing
    src), else coupling (shared cited dst)."""
    from collections import defaultdict

    centers = defaultdict(set)
    for s, d in set(pairs):
        if by_in:
            centers[s].add(d)
        else:
            centers[d].add(s)
    cnt = defaultdict(int)
    for mem in centers.values():
        ms = sorted(mem)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                cnt[(ms[i], ms[j])] += 1
    return cnt


@pytest.mark.parametrize("which", ["cocitation", "coupling"])
def test_cocitation_coupling_match_brute_force(spark, which):
    from gminer_spark.graph.cocitation import cocitation_topk, coupling_topk

    pairs = random_graph(n=60, p=0.05, seed=3, directed=True)
    e = edges_df(spark, pairs)
    fn = cocitation_topk if which == "cocitation" else coupling_topk
    got = {(r.a, r.b): r.cnt for r in fn(e, top_k=100000, max_center_deg=10**6).collect()}
    want = _brute_pairs(pairs, by_in=(which == "cocitation"))
    assert got == dict(want)


def test_cocitation_center_cap_drops_hub_wedges(spark):
    from gminer_spark.graph.cocitation import cocitation_topk

    # star: src 0 cites 1..20 — center degree 20; cap 10 drops ALL pairs
    e = edges_df(spark, [(0, i) for i in range(1, 21)])
    assert cocitation_topk(e, top_k=10, max_center_deg=10).count() == 0
    assert cocitation_topk(e, top_k=10, max_center_deg=20).count() == 10


def test_cocitation_topk_total_order_deterministic(spark):
    from gminer_spark.graph.cocitation import coupling_topk

    pairs = random_graph(n=50, p=0.08, seed=9, directed=True)
    r1 = [tuple(r) for r in coupling_topk(edges_df(spark, pairs), top_k=20).collect()]
    r2 = [tuple(r) for r in coupling_topk(edges_df(spark, pairs).repartition(5), top_k=20).collect()]
    assert r1 == r2 and len(r1) <= 20


# -- Jones-Plassmann greedy coloring -----------------------------------------


def _jp_python(pairs, seed="color"):
    """Exact python replica of the derandomized JP rounds."""
    import hashlib

    def pri(v):
        h = int(hashlib.md5(f"{seed}:{v}".encode()).hexdigest()[:8], 16)
        return (h >> 1) * 2147483648 + v

    adj = {}
    for s, d in set(pairs):
        if s == d:
            continue
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    undecided = set(adj)
    color = {}
    while undecided:
        winners = [
            v
            for v in undecided
            if all(pri(v) < pri(w) for w in adj[v] if w in undecided)
        ]
        for v in winners:
            used = {color[w] for w in adj[v] if w in color}
            c = 0
            while c in used:
                c += 1
            color[v] = c
        undecided -= set(winners)
    return color


def test_coloring_matches_python_jp(spark):
    from gminer_spark.graph.coloring import greedy_coloring

    pairs = random_graph(n=70, p=0.04, seed=5, directed=False)
    got = {r.id: r.color for r in greedy_coloring(edges_df(spark, pairs)).collect()}
    assert got == _jp_python(pairs)


def test_coloring_proper_and_deterministic(spark):
    from gminer_spark.graph.coloring import greedy_coloring

    pairs = random_graph(n=60, p=0.05, seed=13, directed=False)
    c1 = {r.id: r.color for r in greedy_coloring(edges_df(spark, pairs)).collect()}
    c2 = {
        r.id: r.color
        for r in greedy_coloring(edges_df(spark, pairs).repartition(7)).collect()
    }
    assert c1 == c2
    adj = {(s, d) for s, d in pairs if s != d}
    assert all(c1[s] != c1[d] for s, d in adj)


def test_coloring_path_two_colors(spark):
    from gminer_spark.graph.coloring import greedy_coloring

    got = {r.id: r.color for r in greedy_coloring(edges_df(spark, PATH5)).collect()}
    assert set(got) == {1, 2, 3, 4, 5}
    assert all(got[i] != got[i + 1] for i in range(1, 5))
    assert max(got.values()) <= 2  # paths are JP-colorable with <=3 colors


# -- maximal matching --------------------------------------------------------


def _matching_python(pairs, seed="match"):
    """Exact python replica of the parallel greedy matching rounds."""
    import hashlib

    def pri(s, d):
        h = hashlib.md5(f"{seed}:{s}:{d}".encode()).hexdigest()
        return f"{h}:{s}:{d}"

    live = {(min(s, d), max(s, d)) for s, d in pairs if s != d}
    matched = set()
    while live:
        vmin = {}
        for s, d in live:
            p = pri(s, d)
            for v in (s, d):
                if v not in vmin or p < vmin[v]:
                    vmin[v] = p
        winners = {
            (s, d) for s, d in live if pri(s, d) == vmin[s] == vmin[d]
        }
        matched |= winners
        mv = {v for e in winners for v in e}
        live = {(s, d) for s, d in live if s not in mv and d not in mv}
    return matched


def test_matching_matches_python(spark):
    from gminer_spark.graph.matching import maximal_matching

    pairs = random_graph(n=70, p=0.04, seed=21, directed=False)
    got = {(r.src, r.dst) for r in maximal_matching(edges_df(spark, pairs)).collect()}
    assert got == _matching_python(pairs)


def test_matching_is_matching_and_maximal(spark):
    from gminer_spark.graph.matching import maximal_matching

    pairs = random_graph(n=80, p=0.05, seed=2, directed=False)
    got = {(r.src, r.dst) for r in maximal_matching(edges_df(spark, pairs)).collect()}
    mv = [v for e in got for v in e]
    assert len(mv) == len(set(mv))  # no vertex in two matched edges
    # maximal: every edge touches a matched vertex
    mset = set(mv)
    canon = {(min(s, d), max(s, d)) for s, d in pairs if s != d}
    assert all(s in mset or d in mset for s, d in canon)


def test_matching_deterministic_under_partitioning(spark):
    from gminer_spark.graph.matching import maximal_matching

    pairs = random_graph(n=50, p=0.06, seed=17, directed=False)
    m1 = sorted(map(tuple, maximal_matching(edges_df(spark, pairs)).collect()))
    m2 = sorted(
        map(tuple, maximal_matching(edges_df(spark, pairs).repartition(9)).collect())
    )
    assert m1 == m2


# -- butterfly counting ------------------------------------------------------


def _brute_butterflies(incid):
    from collections import defaultdict
    from itertools import combinations

    nbrs = defaultdict(set)
    for l_, r_ in set(incid):
        nbrs[l_].add(r_)
    per = defaultdict(int)
    total = 0
    for a, b in combinations(sorted(nbrs), 2):
        c = len(nbrs[a] & nbrs[b])
        bf = c * (c - 1) // 2
        if bf:
            per[a] += bf
            per[b] += bf
            total += bf
    return dict(per), total


def test_butterflies_match_brute_force(spark):
    import numpy as np

    from gminer_spark.graph.butterflies import butterfly_counts, butterfly_total

    rng = np.random.default_rng(31)
    incid = [(int(rng.integers(0, 25)), int(rng.integers(100, 115))) for _ in range(300)]
    df = spark.createDataFrame(incid, "left long, right long")
    got = {r.id: r.bfly for r in butterfly_counts(df).collect()}
    want, total = _brute_butterflies(incid)
    assert got == want
    assert butterfly_total(df).first().n_butterflies == total


def test_butterflies_k22_closed_form(spark):
    from gminer_spark.graph.butterflies import butterfly_total

    # complete bipartite K(3,4): C(3,2)*C(4,2) = 18 butterflies
    incid = [(a, 100 + b) for a in range(3) for b in range(4)]
    df = spark.createDataFrame(incid, "left long, right long")
    assert butterfly_total(df).first().n_butterflies == 18


def test_butterflies_right_hub_cap(spark):
    from gminer_spark.graph.butterflies import butterfly_total

    incid = [(a, 100 + b) for a in range(3) for b in range(4)]
    df = spark.createDataFrame(incid, "left long, right long")
    # every right vertex has degree 3; cap 2 drops all wedges
    assert butterfly_total(df, max_right_deg=2).first().n_butterflies == 0


# -- edge betweenness --------------------------------------------------------


def test_edge_betweenness_path_closed_form(spark):
    from gminer_spark.graph.betweenness import edge_betweenness_sampled

    # path 1-2-3-4-5, all 5 sources: edge (i, i+1) carries i*(5-i)
    # shortest paths in each direction -> dependency sum = 2*i*(5-i)... 
    # computed per Brandes: sum over sources of dag-edge dependencies
    e = edges_df(spark, PATH5)
    srcs = spark.createDataFrame([(i,) for i in range(1, 6)], "id long")
    got = {
        (r.src, r.dst): r.eb_micro
        for r in edge_betweenness_sampled(e, srcs, max_depth=10).collect()
    }
    # brute force from python for exactness
    want = _edge_bc_python(PATH5, [1, 2, 3, 4, 5])
    assert got == {k: round(v * 1e6) for k, v in want.items()}


def _edge_bc_python(pairs, sources):
    from collections import defaultdict, deque

    adj = defaultdict(set)
    for s, d in pairs:
        adj[s].add(d)
        adj[d].add(s)
    eb = defaultdict(float)
    for s in sources:
        # BFS
        dist, sigma = {s: 0}, defaultdict(float)
        sigma[s] = 1.0
        order = []
        dq = deque([s])
        while dq:
            v = dq.popleft()
            order.append(v)
            for w in adj[v]:
                if w not in dist:
                    dist[w] = dist[v] + 1
                    dq.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
        delta = defaultdict(float)
        for w in reversed(order):
            for v in adj[w]:
                if v in dist and dist[v] == dist[w] - 1:
                    part = sigma[v] / sigma[w] * (1 + delta[w])
                    eb[(min(v, w), max(v, w))] += part
                    delta[v] += part
    return dict(eb)


def test_edge_betweenness_matches_python_random(spark):
    from gminer_spark.graph.betweenness import edge_betweenness_sampled

    pairs = random_graph(n=40, p=0.08, seed=19, directed=False)
    srcs_l = sorted({x for p in pairs for x in p})[:6]
    srcs = spark.createDataFrame([(v,) for v in srcs_l], "id long")
    got = {
        (r.src, r.dst): r.eb_micro
        for r in edge_betweenness_sampled(edges_df(spark, pairs), srcs, max_depth=15).collect()
    }
    want = _edge_bc_python(pairs, srcs_l)
    assert set(got) == set(want)
    for k, v in want.items():
        assert abs(got[k] - round(v * 1e6)) <= 1  # float sum-order ulp


# -- avg neighbor degree profile ---------------------------------------------


def test_avg_neighbor_degree_star(spark):
    from gminer_spark.graph.structure import avg_neighbor_degree

    got = {r.deg: (r.n_vertices, r.knn_micro) for r in avg_neighbor_degree(edges_df(spark, STAR)).collect()}
    # hub (deg 20) neighbors all have deg 1; leaves (deg 1) neighbor the hub
    assert got[20] == (1, 1_000_000)
    assert got[1] == (20, 20_000_000)


def test_avg_neighbor_degree_matches_python(spark):
    from collections import defaultdict

    from gminer_spark.graph.structure import avg_neighbor_degree

    pairs = random_graph(n=50, p=0.08, seed=23, directed=False)
    adj = defaultdict(set)
    for s, d in pairs:
        adj[s].add(d)
        adj[d].add(s)
    per_v = {v: sum(len(adj[w]) for w in adj[v]) / len(adj[v]) for v in adj}
    prof = defaultdict(list)
    for v, knn in per_v.items():
        prof[len(adj[v])].append(knn)
    want = {k: (len(vs), round(sum(vs) / len(vs) * 1e6)) for k, vs in prof.items()}
    got = {r.deg: (r.n_vertices, r.knn_micro) for r in avg_neighbor_degree(edges_df(spark, pairs)).collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0] and abs(got[k][1] - want[k][1]) <= 1


def test_closeness_sampled_matches_python(spark):
    from gminer_spark.graph.betweenness import closeness_sampled

    pairs = random_graph(n=40, p=0.08, seed=29, directed=False)
    srcs_l = sorted({x for p in pairs for x in p})[:8]
    srcs = spark.createDataFrame([(v,) for v in srcs_l], "id long")
    got = {
        r.id: (r.n_reached, r.closeness_micro)
        for r in closeness_sampled(edges_df(spark, pairs), srcs, max_depth=15).collect()
    }
    true = _true_dists(pairs)
    from collections import defaultdict

    sums = defaultdict(lambda: [0, 0])
    for s in srcs_l:
        for v in {x for p in pairs for x in p}:
            d = true.get((s, v))
            if d is not None and d > 0:
                sums[v][0] += 1
                sums[v][1] += d
    want = {v: (n, round(n / sd * 1e6)) for v, (n, sd) in sums.items() if n}
    assert got == want


# -- snapshot diff -----------------------------------------------------------


def test_snapshot_diff_and_degree_delta(spark):
    from gminer_spark.graph.snapshot import degree_delta, snapshot_diff

    old = edges_df(spark, [(1, 2), (2, 3), (3, 4)])
    new = edges_df(spark, [(1, 2), (3, 4), (4, 5)])
    diff = {(r.src, r.dst): r.status for r in snapshot_diff(old, new).collect()}
    assert diff == {(2, 3): "removed", (4, 5): "added"}
    dd = {r.id: (r.deg_old, r.deg_new, r.delta) for r in degree_delta(old, new).collect()}
    assert dd == {2: (2, 1, -1), 3: (2, 1, -1), 4: (1, 2, 1), 5: (0, 1, 1)}


def test_snapshot_diff_identical_is_empty(spark):
    from gminer_spark.graph.snapshot import degree_delta, snapshot_diff

    e = edges_df(spark, PATH5)
    assert snapshot_diff(e, e.repartition(3)).count() == 0
    assert degree_delta(e, e.repartition(3)).count() == 0


def test_hub_removal_robustness_star_shatters(spark):
    from gminer_spark.graph.snapshot import hub_removal_robustness

    # star + one spare edge: removing the hub leaves only (21, 22)
    e = edges_df(spark, STAR + [(21, 22)])
    got = {
        r.comp_size: r.n_components
        for r in hub_removal_robustness(e, k_hubs=1).collect()
    }
    assert got == {2: 1}


def test_hub_removal_robustness_matches_python(spark):
    from gminer_spark.graph.snapshot import hub_removal_robustness

    pairs = random_graph(n=60, p=0.04, seed=37, directed=False)
    got = {
        r.comp_size: r.n_components
        for r in hub_removal_robustness(edges_df(spark, pairs), k_hubs=5).collect()
    }
    # python replica
    from collections import Counter, defaultdict

    adj = defaultdict(set)
    for s, d in set(pairs):
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    hubs = sorted(adj, key=lambda v: (-len(adj[v]), v))[:5]
    hs = set(hubs)
    sub = defaultdict(set)
    for s, d in set(pairs):
        if s != d and s not in hs and d not in hs:
            sub[s].add(d)
            sub[d].add(s)
    seen, sizes = set(), []
    for v in sub:
        if v in seen:
            continue
        stack, comp = [v], set()
        while stack:
            x = stack.pop()
            if x in comp:
                continue
            comp.add(x)
            stack.extend(sub[x] - comp)
        seen |= comp
        sizes.append(len(comp))
    assert got == dict(Counter(sizes))


# -- Weisfeiler-Lehman refinement --------------------------------------------


def _wl_python(pairs, rounds=3):
    import hashlib
    from collections import defaultdict

    def h32p(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    adj = defaultdict(set)
    for s, d in set(pairs):
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    color = {v: h32p(str(len(adj[v]))) for v in adj}
    for _ in range(rounds):
        color = {
            v: h32p(
                str(color[v])
                + "|"
                + ",".join(sorted(str(color[w]) for w in adj[v]))
            )
            for v in adj
        }
    return color


def test_wl_colors_match_python(spark):
    from gminer_spark.graph.wl import wl_colors

    pairs = random_graph(n=50, p=0.07, seed=43, directed=False)
    got = {r.id: r.color for r in wl_colors(edges_df(spark, pairs), rounds=3).collect()}
    assert got == _wl_python(pairs, rounds=3)


def test_wl_distinguishes_path_endpoints(spark):
    from gminer_spark.graph.wl import wl_colors

    got = {r.id: r.color for r in wl_colors(edges_df(spark, PATH5), rounds=2).collect()}
    # symmetry: 1~5 and 2~4 are structurally equivalent; 3 is its own class
    assert got[1] == got[5] and got[2] == got[4]
    assert len({got[1], got[2], got[3]}) == 3


def test_wl_histogram_isomorphism_invariant(spark):
    from gminer_spark.graph.wl import wl_histogram

    pairs = random_graph(n=40, p=0.08, seed=47, directed=False)
    relabel = {v: v + 1000 for v in {x for p in pairs for x in p}}
    pairs2 = [(relabel[s], relabel[d]) for s, d in pairs]
    h1 = sorted(
        (r.n_vertices,) for r in wl_histogram(edges_df(spark, pairs), 3).collect()
    )
    h2 = sorted(
        (r.n_vertices,) for r in wl_histogram(edges_df(spark, pairs2), 3).collect()
    )
    # color VALUES change under relabeling (they hash ids only via
    # degree, so actually only class SIZES are invariant)
    assert h1 == h2


def test_scc_dag_input_all_singletons(spark):
    """Regression: a DAG-shaped input (canonical src<dst edges — every
    SCC a singleton) drove the trim loop >14 rounds and the old
    incremental `sub` rebuild nested cached plans ~3x/round — the
    per-action explain string went exponential and OOM'd the driver.
    The flat rebuild keeps trim plans constant-depth."""
    from gminer_spark.graph.scc import strongly_connected_components

    pairs = [(s, d) for s, d in random_graph(n=120, p=0.04, seed=53, directed=True)]
    dag = [(min(s, d), max(s, d)) for s, d in pairs if s != d]
    got = strongly_connected_components(edges_df(spark, dag))
    rows = got.collect()
    verts = {x for p in dag for x in p}
    assert len(rows) == len(verts)
    assert all(r.id == r.scc_id for r in rows)  # every SCC a singleton


def test_rich_club_matches_python(spark):
    from gminer_spark.graph.structure import rich_club

    pairs = random_graph(n=60, p=0.08, seed=59, directed=False)
    got = {
        r.k: (r.n_nodes, r.n_edges, r.phi_micro)
        for r in rich_club(edges_df(spark, pairs)).collect()
    }
    from collections import defaultdict

    adj = defaultdict(set)
    for s, d in set(pairs):
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    degs = {v: len(adj[v]) for v in adj}
    want = {}
    for k in sorted(set(degs.values())):
        club = {v for v, dv in degs.items() if dv > k}
        if len(club) < 2:
            continue
        e = sum(1 for a in club for b in adj[a] if b in club and a < b)
        want[k] = (
            len(club),
            e,
            round(2.0 * e / (len(club) * (len(club) - 1)) * 1e6),
        )
    assert got == want


def test_rich_club_gap_threshold(spark):
    from gminer_spark.graph.structure import rich_club

    # two hubs of deg 4 joined to each other + leaves of degree 1:
    # threshold k=1 (a degree value) has edges above it even though
    # no edge's min-degree equals 1... construct: hubs h1,h2 with
    # leaves; h1-h2 edge has mdeg 4; leaf edges have mdeg 1
    pairs = [(1, 2)] + [(1, 10 + i) for i in range(3)] + [(2, 20 + i) for i in range(3)]
    got = {r.k: (r.n_nodes, r.n_edges) for r in rich_club(edges_df(spark, pairs)).collect()}
    # degrees: 1->4, 2->4, leaves->1.  k=1: club={1,2}, edges within=1
    assert got[1] == (2, 1)


def test_robustness_explicit_drop_set(spark):
    from gminer_spark.graph.snapshot import hub_removal_robustness

    # dropping BOTH hubs of a double star leaves nothing (all leaves
    # isolated -> no edges -> empty histogram)
    pairs = [(1, 10 + i) for i in range(3)] + [(2, 20 + i) for i in range(3)] + [(1, 2)]
    drop = spark.createDataFrame([(1,), (2,)], "id long")
    got = hub_removal_robustness(edges_df(spark, pairs), drop=drop).collect()
    assert got == []
    # dropping a leaf keeps the rest connected through the hubs
    drop1 = spark.createDataFrame([(10,)], "id long")
    got2 = {
        r.comp_size: r.n_components
        for r in hub_removal_robustness(edges_df(spark, pairs), drop=drop1).collect()
    }
    assert got2 == {7: 1}


def test_label_assortativity_hand_values(spark):
    """Two same-label cliques vs a fully mixed bipartite graph: exact
    hand-computed coefficients (perfect homophily = 1e6, bipartite
    two-label = negative)."""
    from gminer_spark.graph import tables as gt
    from gminer_spark.graph.community_metrics import label_assortativity

    # two disjoint K3s, labels by clique -> r = 1
    tri = [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12)]
    labels = spark.createDataFrame(
        [(v, 1) for v in (0, 1, 2)] + [(v, 2) for v in (10, 11, 12)],
        "id long, label long",
    )
    r = label_assortativity(gt.symmetrize(edges_df(spark, tri)), labels).collect()[0]
    assert (r["m2"], r["same2"], r["r_micro"]) == (12, 12, 1_000_000)

    # complete bipartite K2,2 labeled by side: same2=0
    # r = (0 - sum_vol2/m2) / (m2 - sum_vol2/m2) ... exact: m2=8,
    # vol per label 4 -> sum_vol2=32; r=(0*8-32)/(64-32) = -1
    bip = [(0, 10), (0, 11), (1, 10), (1, 11)]
    labels2 = spark.createDataFrame(
        [(0, 1), (1, 1), (10, 2), (11, 2)], "id long, label long"
    )
    r2 = label_assortativity(gt.symmetrize(edges_df(spark, bip)), labels2).collect()[0]
    assert (r2["m2"], r2["same2"], r2["r_micro"]) == (8, 0, -1_000_000)

    # single label -> denominator 0 -> convention 0
    one = spark.createDataFrame([(v, 9) for v in (0, 1, 2)], "id long, label long")
    r3 = label_assortativity(
        gt.symmetrize(edges_df(spark, [(0, 1), (1, 2)])), one
    ).collect()[0]
    assert r3["r_micro"] == 0


def test_densest_subgraph_clique_plus_fringe(spark):
    """K6 plus a long path of degree-<=2 fringe vertices under the
    Charikar-exact threshold (thr_num=1): the peel strips the fringe
    first and the best-density prefix is the clique (all 6
    in_densest, fringe out).  thr_num=2 would peel everything in one
    round here (K6's degree 5 < 2x the global average) — exactly the
    approximation-vs-rounds trade the knob encodes."""
    from gminer_spark.graph.densest import densest_subgraph

    k6 = [(a, b) for a in range(6) for b in range(6) if a < b]
    path = [(100 + i, 101 + i) for i in range(12)] + [(100, 0)]
    rows = densest_subgraph(edges_df(spark, k6 + path), thr_num=1).collect()
    dense = {r["id"] for r in rows if r["in_densest"]}
    assert dense == set(range(6))
    # fringe removed strictly before the clique
    rr = {r["id"]: r["removal_round"] for r in rows}
    assert max(rr[v] for v in range(100, 113)) <= min(rr[v] for v in range(6))


def test_densest_subgraph_matches_python_replication(spark):
    """Random graph vs a literal python replication of the integer
    peel + cross-product best-round rule — exact equality of both
    removal_round and in_densest."""
    from gminer_spark.graph.densest import densest_subgraph

    pairs = random_graph(n=60, p=0.07, seed=31)
    ce = sorted({(min(a, b), max(a, b)) for a, b in pairs if a != b})
    ids = sorted({v for e in ce for v in e})
    surv = set(ids)
    removal = {}
    history = []
    rnd = 0
    while True:
        deg = {v: 0 for v in surv}
        for a, b in ce:
            if a in surv and b in surv:
                deg[a] += 1
                deg[b] += 1
        n, m2 = len(surv), sum(deg.values())
        if n == 0 or m2 == 0:
            for v in surv:
                removal[v] = rnd
            break
        history.append((rnd, n, m2))
        doomed = {v for v in surv if deg[v] * n <= 2 * m2}
        for v in doomed:
            removal[v] = rnd
        surv -= doomed
        rnd += 1
    best = 0
    for i in range(1, len(history)):
        if history[i][2] * history[best][1] > history[best][2] * history[i][1]:
            best = i
    best_round = history[best][0] if history else 0
    got = {
        r["id"]: (r["removal_round"], r["in_densest"])
        for r in densest_subgraph(edges_df(spark, ce)).collect()
    }
    want = {v: (removal[v], removal[v] >= best_round) for v in ids}
    assert got == want


def test_egonet_density_star_and_clique(spark):
    """Star center: ego_edges = deg, density 2/(deg+1); K5 member:
    full egonet, density exactly 1.0 (1e6 micro)."""
    from gminer_spark.graph.structure import egonet_density

    star = [(0, i) for i in range(1, 11)]
    k5 = [(i, j) for i in range(20, 25) for j in range(20, 25) if i < j]
    rows = {
        r["id"]: r
        for r in egonet_density(edges_df(spark, star + k5)).collect()
    }
    c = rows[0]
    assert (c["deg"], c["triangles"], c["ego_edges"]) == (10, 0, 10)
    assert c["ego_density_micro"] == round(2 * 10 * 1e6 / (11 * 10))
    k5v = rows[22]
    assert (k5v["deg"], k5v["triangles"]) == (4, 6)
    assert k5v["ego_density_micro"] == 1_000_000
    leaf = rows[10]  # star leaf: deg 1, egonet = one edge, density 1
    assert (leaf["deg"], leaf["ego_edges"], leaf["ego_density_micro"]) == (
        1,
        1,
        1_000_000,
    )


def test_triad_census_matches_python_coin(spark):
    """Random graph: classify every triangle with a literal python
    replication of the md5 coin; counts must match exactly, and
    cyclic + transitive must partition the triangle count."""
    import hashlib

    from gminer_spark.graph.triangles import triad_census

    pairs = sorted({(min(a, b), max(a, b)) for a, b in random_graph(n=40, p=0.25, seed=9) if a != b})
    eset = set(pairs)
    verts = sorted({v for e in pairs for v in e})

    def fwd(x, y):
        h = int.from_bytes(
            hashlib.md5(f"dir:{x}:{y}".encode()).digest()[:4], "big"
        )
        return h % 2 == 0

    n_tri = n_cyc = 0
    for i, a in enumerate(verts):
        for b in verts[i + 1:]:
            if (a, b) not in eset:
                continue
            for c in verts:
                if c <= b or (a, c) not in eset or (b, c) not in eset:
                    continue
                n_tri += 1
                f_ab, f_ac, f_bc = fwd(a, b), fwd(a, c), fwd(b, c)
                if f_ab == f_bc and f_ab != f_ac:
                    n_cyc += 1
    row = triad_census(edges_df(spark, pairs)).collect()[0]
    assert (row["n_triangles"], row["n_cyclic"]) == (n_tri, n_cyc)
    assert row["n_transitive"] == n_tri - n_cyc
    assert 0 < n_cyc < n_tri  # fixture exercises both classes


def test_dag_layers_hand_values(spark):
    """Diamond + tail: layer = longest path, not BFS depth."""
    from gminer_spark.graph.dag import dag_layers

    # 1→2→3→4 and 1→4 (longest path to 4 is 3), 4→5
    got = {
        r["id"]: r["layer"]
        for r in dag_layers(
            edges_df(spark, [(1, 2), (2, 3), (3, 4), (1, 4), (4, 5)])
        ).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}


def test_dag_layers_cycle_warns(spark):
    import pytest as _pytest

    from gminer_spark.graph.dag import dag_layers

    with _pytest.warns(UserWarning, match="cycle"):
        dag_layers(edges_df(spark, CYCLE6), max_rounds=8).collect()


def test_dag_layers_matches_topological_dp(spark):
    """Random canonical (src<dst) DAG vs a python longest-path DP."""
    from gminer_spark.graph.dag import dag_layers

    pairs = sorted({(min(a, b), max(a, b)) for a, b in random_graph(n=80, p=0.04, seed=13) if a != b})
    import collections

    adj_in = collections.defaultdict(list)
    verts = set()
    for s_, d_ in pairs:
        adj_in[d_].append(s_)
        verts |= {s_, d_}
    want = {}
    for v in sorted(verts):
        want[v] = max((want[u] + 1 for u in adj_in[v]), default=0)
    got = {
        r["id"]: r["layer"]
        for r in dag_layers(edges_df(spark, pairs)).collect()
    }
    assert got == want


def test_conductance_sweep_barbell(spark):
    """Two K4s joined by one bridge; scores rank clique A first: the
    best prefix is exactly clique A (cut 1, conductance 1/13)."""
    from gminer_spark.graph.sweep import conductance_sweep

    k4a = [(i, j) for i in range(4) for j in range(4) if i < j]
    k4b = [(i, j) for i in range(10, 14) for j in range(10, 14) if i < j]
    bridge = [(0, 10)]
    edges = edges_df(spark, k4a + k4b + bridge)
    # scores: clique A high (40..37 by id), clique B low (4..1)
    scores = spark.createDataFrame(
        [(i, 40 - i) for i in range(4)]
        + [(i, 14 - i) for i in range(10, 14)],
        "id long, rank_micro long",
    )
    rows = sorted(
        conductance_sweep(edges, scores, sweep_n=8).collect(),
        key=lambda r: r["rank"],
    )
    # order: 1 (deg4,score 39/4) ... wait deg(0)=4 others 3
    by_rank = [(r["id"], r["cut_edges"], r["volume"], r["in_best"]) for r in rows]
    # vol_total = 2*13 = 26
    # best prefix must be {0,1,2,3} with cut 1, vol 13, cond 1/13
    prefix4 = rows[3]
    assert {r["id"] for r in rows[:4]} == {0, 1, 2, 3}
    assert (prefix4["cut_edges"], prefix4["volume"]) == (1, 13)
    assert prefix4["conductance_micro"] == round(1e6 / 13)
    assert prefix4["in_best"]
    assert all(r["in_best"] for r in rows[:4])
    assert not any(r["in_best"] for r in rows[4:])


def test_conductance_sweep_matches_bruteforce(spark):
    """Random graph + arbitrary deterministic scores: every prefix's
    cut and volume must equal a literal python recount."""
    from gminer_spark.graph.sweep import conductance_sweep

    pairs = sorted({(min(a, b), max(a, b)) for a, b in random_graph(n=50, p=0.08, seed=17) if a != b})
    verts = sorted({v for e in pairs for v in e})
    scores = [(v, (v * 7919) % 101 + 1) for v in verts]
    got = sorted(
        conductance_sweep(
            edges_df(spark, pairs),
            spark.createDataFrame(scores, "id long, rank_micro long"),
            sweep_n=30,
        ).collect(),
        key=lambda r: r["rank"],
    )
    import collections

    deg = collections.Counter()
    for a, b in pairs:
        deg[a] += 1
        deg[b] += 1
    smap = dict(scores)
    order = sorted(
        verts, key=lambda v: (-smap[v] / deg[v], -smap[v], v)
    )[:30]
    pref = set()
    for i, v in enumerate(order):
        pref.add(v)
        cut = sum(1 for a, b in pairs if (a in pref) != (b in pref))
        vol = sum(deg[x] for x in pref)
        r = got[i]
        assert (r["id"], r["cut_edges"], r["volume"]) == (v, cut, vol)


def test_edge_embeddedness_hand_values(spark):
    """Barbell: bridge edge has embeddedness 0; K4-internal edges
    have overlap 2 of union 2 -> 1.0; two-leaf bridge guard."""
    from gminer_spark.graph.structure import edge_embeddedness

    k4a = [(i, j) for i in range(4) for j in range(4) if i < j]
    k4b = [(i, j) for i in range(10, 14) for j in range(10, 14) if i < j]
    rows = {
        (r["src"], r["dst"]): r
        for r in edge_embeddedness(
            edges_df(spark, k4a + k4b + [(0, 10), (20, 21)])
        ).collect()
    }
    bridge = rows[(0, 10)]
    assert (bridge["support"], bridge["embeddedness_micro"]) == (0, 0)
    internal = rows[(1, 2)]
    # N(1)∩N(2) = {0,3}; union = {0,3} -> 1.0
    assert (internal["support"], internal["embeddedness_micro"]) == (
        2,
        1_000_000,
    )
    mixed = rows[(0, 1)]
    # N(0) = {1,2,3,10}, N(1) = {0,2,3}: overlap {2,3}=2, union {2,3,10}=3
    assert (mixed["support"], mixed["deg_src"], mixed["embeddedness_micro"]) == (
        2,
        4,
        666_667,
    )
    leafpair = rows[(20, 21)]  # zero-union guard
    assert (leafpair["deg_src"], leafpair["embeddedness_micro"]) == (1, 0)


def test_quotient_graph_hand_values(spark):
    """Two triangles + one cross edge, labeled by component."""
    from gminer_spark.graph.quotient import quotient_graph

    edges = edges_df(
        spark,
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10)],
    )
    labels = spark.createDataFrame(
        [(v, 100) for v in (1, 2, 3)] + [(v, 200) for v in (10, 11, 12)],
        "id long, label long",
    )
    got = {
        (r["src_label"], r["dst_label"]): r["n_edges"]
        for r in quotient_graph(edges, labels).collect()
    }
    assert got == {(100, 100): 3, (200, 200): 3, (100, 200): 1}


def test_k_center_path(spark):
    """Path 0..9, k=2: start min-id 0, farthest 9; assignment splits
    at the midpoint with strict-improvement keeping center 0 on the
    equidistant side (no ties on an odd path)."""
    from gminer_spark.graph.kcenter import k_center

    got = {
        r["id"]: (r["center"], r["dist"])
        for r in k_center(
            edges_df(spark, [(i, i + 1) for i in range(9)]),
            k=2,
            max_depth=12,
        ).collect()
    }
    for v in range(10):
        want_center = 0 if v <= 4 else 9
        want_dist = min(v, 9 - v)
        assert got[v] == (want_center, want_dist), (v, got[v])


def test_k_center_unreached_sentinel(spark):
    """Two components, k=1: the far component keeps center -1 / INF."""
    from gminer_spark.graph.kcenter import INF, k_center

    got = {
        r["id"]: (r["center"], r["dist"])
        for r in k_center(
            edges_df(spark, [(1, 2), (10, 11)]), k=1, max_depth=4
        ).collect()
    }
    assert got[1] == (1, 0) and got[2] == (1, 1)
    assert got[10] == (-1, INF) and got[11] == (-1, INF)


def test_k_center_second_component_reached(spark):
    """k=2 on two components: the second center lands in the other
    component (dist INF wins the farthest rule, min id breaks ties)."""
    from gminer_spark.graph.kcenter import k_center

    got = {
        r["id"]: r["center"]
        for r in k_center(
            edges_df(spark, [(1, 2), (10, 11), (11, 12)]),
            k=2,
            max_depth=4,
        ).collect()
    }
    assert got == {1: 1, 2: 1, 10: 10, 11: 10, 12: 10}


def test_widest_paths_longer_path_wins(spark):
    """Source 1: direct edge 1-4 of weight 1 vs path 1-2-3-4 with
    weights 9/8/7 — the bottleneck of 4 must be 7, not 1; and the
    max-min fixpoint needs more rounds than the hop distance."""
    from gminer_spark.graph.sssp import WIDEST_INF, widest_paths

    we = spark.createDataFrame(
        [(1, 4, 1), (1, 2, 9), (2, 3, 8), (3, 4, 7), (4, 5, 2)],
        "src long, dst long, w long",
    )
    src = spark.createDataFrame([(1,)], "id long")
    got = {
        r["id"]: r["bottleneck"]
        for r in widest_paths(we, src).collect()
    }
    assert got == {1: WIDEST_INF, 2: 9, 3: 8, 4: 7, 5: 2}


def test_msf_matches_kruskal(spark):
    """Random weighted graph: the Boruvka forest under the
    (w, src, dst) total order must equal Kruskal with the same
    tie-break — same edge set, same total weight, |V|-#components
    edges."""
    import random as _random

    from gminer_spark.graph.msf import minimum_spanning_forest

    rng = _random.Random(5)
    pairs = sorted({(min(a, b), max(a, b)) for a, b in random_graph(n=70, p=0.05, seed=11) if a != b})
    wedges = [(s, d, rng.randrange(1, 9)) for s, d in pairs]
    we = spark.createDataFrame(wedges, "src long, dst long, w long")

    # python Kruskal with union-find, ordered by (w, src, dst)
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    kru = set()
    for w, s, d in sorted((w, s, d) for s, d, w in wedges):
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[rs] = rd
            kru.add((s, d, w))

    got = {
        (r["src"], r["dst"], r["w"])
        for r in minimum_spanning_forest(we).collect()
    }
    assert got == kru
    verts = {v for s, d, _ in wedges for v in (s, d)}
    n_comp = len({find(v) for v in verts})
    assert len(got) == len(verts) - n_comp


def test_msf_two_components(spark):
    from gminer_spark.graph.msf import minimum_spanning_forest

    we = spark.createDataFrame(
        [(1, 2, 5), (2, 3, 1), (1, 3, 2), (10, 11, 7)],
        "src long, dst long, w long",
    )
    got = {
        (r["src"], r["dst"], r["w"])
        for r in minimum_spanning_forest(we).collect()
    }
    assert got == {(2, 3, 1), (1, 3, 2), (10, 11, 7)}


def test_single_linkage_cut_heights(spark):
    """Chain 1-2-3 with weights 1,5 and isolated heavy pair: cutting
    at 1 separates what the weight-5 edge joins; cutting at 5 merges."""
    from gminer_spark.graph.msf import single_linkage

    we = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 5), (10, 11, 9)],
        "src long, dst long, w long",
    )
    at1 = {
        r["id"]: r["cluster"]
        for r in single_linkage(we, threshold=1).collect()
    }
    assert at1 == {1: 1, 2: 1, 3: 3, 10: 10, 11: 11}
    at5 = {
        r["id"]: r["cluster"]
        for r in single_linkage(we, threshold=5).collect()
    }
    assert at5 == {1: 1, 2: 1, 3: 1, 10: 10, 11: 11}


def test_forman_curvature_hand_values(spark):
    """K4 internal edge: 4-3-3+3*2 = 4 (positive, clique); bridge
    between two K4s: 4-4-4+0 = -4 (bottleneck)."""
    from gminer_spark.graph.structure import forman_curvature

    k4a = [(i, j) for i in range(4) for j in range(4) if i < j]
    k4b = [(i, j) for i in range(10, 14) for j in range(10, 14) if i < j]
    rows = {
        (r["src"], r["dst"]): r["curvature"]
        for r in forman_curvature(
            edges_df(spark, k4a + k4b + [(0, 10)])
        ).collect()
    }
    assert rows[(1, 2)] == 4 - 3 - 3 + 3 * 2
    assert rows[(0, 10)] == 4 - 4 - 4 + 0


def test_edge_support_full_range_ids(spark):
    """The barbell of the two tests above relabeled with negative ids
    and ids above 2^32, as xxhash64 web ids are.  A degree packed beside
    the id into one bigint is misread on such ids, and vertices 0 and 1
    (degrees 4 and 3, ids 2^32 apart) would get equal packed keys."""
    from gminer_spark.graph.structure import edge_embeddedness, forman_curvature
    from gminer_spark.graph.triangles import triangle_count, triangles_per_vertex

    big = {
        0: -(1 << 40),
        1: -(1 << 40) + (1 << 32),
        2: -7,
        3: (1 << 62) + 5,
        10: 1 << 33,
        11: -1,
        12: (1 << 63) - 1,
        13: -(1 << 63),
        20: 1 << 32,
        21: 3 << 32,
    }
    k4a = [(i, j) for i in range(4) for j in range(4) if i < j]
    k4b = [(i, j) for i in range(10, 14) for j in range(10, 14) if i < j]
    pairs = [(big[a], big[b]) for a, b in k4a + k4b + [(0, 10), (20, 21)]]
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    for a, b in pairs:
        u, v = min(a, b), max(a, b)
        t, du, dv = len(adj[u] & adj[v]), len(adj[u]), len(adj[v])
        denom = du + dv - 2 - t
        micro = 0 if denom <= 0 else int(t * 1e6 / denom + 0.5)
        want[(u, v)] = (t, du, dv, micro, 4 - du - dv + 3 * t)

    e = edges_df(spark, pairs)
    curv = {(r["src"], r["dst"]): r["curvature"] for r in forman_curvature(e).collect()}
    got = {
        (r["src"], r["dst"]): (
            r["support"],
            r["deg_src"],
            r["deg_dst"],
            r["embeddedness_micro"],
            curv[(r["src"], r["dst"])],
        )
        for r in edge_embeddedness(e).collect()
    }
    assert got == want
    # N(0) = {1,2,3,10}, N(1) = {0,2,3}: support 2, union 3, 4-4-3+3*2
    assert got[(big[0], big[1])] == (2, 4, 3, 666_667, 3)
    assert got[(big[0], big[10])] == (0, 4, 4, 0, -4)
    assert triangle_count(e) == 8
    assert {r["id"]: r["triangles"] for r in triangles_per_vertex(e).collect()} == {
        big[v]: 3 for v in (0, 1, 2, 3, 10, 11, 12, 13)
    }


def test_bond_percolation_monotone_and_exact(spark):
    """p=100 keeps everything (components = CC of the full graph);
    p=0 keeps nothing (every vertex isolated); kept-edge counts
    monotone in p."""
    from gminer_spark.graph.percolation import bond_percolation

    pairs = sorted({(min(a, b), max(a, b)) for a, b in random_graph(n=60, p=0.05, seed=3) if a != b})
    rows = {
        r["p_pct"]: r
        for r in bond_percolation(
            edges_df(spark, pairs), probs_pct=[0, 40, 100]
        ).collect()
    }
    verts = {v for e in pairs for v in e}
    assert rows[0]["n_kept_edges"] == 0
    assert rows[0]["n_components"] == len(verts)
    assert rows[0]["giant_size"] == 1
    assert rows[100]["n_kept_edges"] == len(pairs)
    assert rows[0]["n_kept_edges"] <= rows[40]["n_kept_edges"] <= rows[100]["n_kept_edges"]
    # full-graph CC cross-check in python
    import collections

    adj = collections.defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    seen, comps, giant = set(), 0, 0
    for v in verts:
        if v in seen:
            continue
        comps += 1
        stack, size = [v], 0
        seen.add(v)
        while stack:
            u = stack.pop()
            size += 1
            for x in adj[u]:
                if x not in seen:
                    seen.add(x)
                    stack.append(x)
        giant = max(giant, size)
    assert rows[100]["n_components"] == comps
    assert rows[100]["giant_size"] == giant


def test_louvain_moves_barbell_two_communities(spark):
    """Two K5s joined by one bridge: modularity moves must converge to
    exactly the two cliques (6 parity rounds are ample)."""
    from gminer_spark.graph.louvain import louvain_moves

    k5a = [(i, j) for i in range(5) for j in range(5) if i < j]
    k5b = [(i, j) for i in range(10, 15) for j in range(10, 15) if i < j]
    got = {
        r["id"]: r["community"]
        for r in louvain_moves(
            edges_df(spark, k5a + k5b + [(0, 10)]), num_rounds=6
        ).collect()
    }
    assert len({got[v] for v in range(5)}) == 1
    assert len({got[v] for v in range(10, 15)}) == 1
    assert got[0] != got[10]


def test_louvain_moves_strict_improvement_keeps_singletons(spark):
    """A single edge between two vertices: joining is strictly
    improving, so they merge; an isolated pair of paths stays
    deterministic under partitioning (determinism is covered by the
    contract oracle; here just the merge)."""
    from gminer_spark.graph.louvain import louvain_moves

    got = {
        r["id"]: r["community"]
        for r in louvain_moves(edges_df(spark, [(1, 2)]), num_rounds=4).collect()
    }
    assert got[1] == got[2]


def test_louvain_two_level_merges_clique_chain(spark):
    """Chain of 4 K4s, consecutive cliques bridged: level 1 finds the
    cliques; level 2 on the quotient may merge neighbors — and the
    projected labels must stay a coarsening of level 1 (never split a
    level-1 community)."""
    from gminer_spark.graph.louvain import louvain_moves, louvain_two_level

    edges = []
    for b in range(4):
        base = b * 10
        edges += [
            (base + i, base + j) for i in range(4) for j in range(4) if i < j
        ]
    edges += [(3, 10), (13, 20), (23, 30)]
    df = edges_df(spark, edges)
    l1 = {r["id"]: r["community"] for r in louvain_moves(df, 4).collect()}
    l2 = {r["id"]: r["community"] for r in louvain_two_level(df, 4, 4).collect()}
    assert set(l2) == set(l1)
    # coarsening: same level-1 community => same final community
    for u in l1:
        for v in l1:
            if l1[u] == l1[v]:
                assert l2[u] == l2[v]
    # each K4 still ends up internally together
    for b in range(4):
        base = b * 10
        assert len({l2[base + i] for i in range(4)}) == 1


def test_louvain_weighted_selfloop_changes_decision(spark):
    """Self-loops enter degrees/volumes but never e(v, c): vertex 2
    (the only round-0-active vertex here) ties between supernodes 3
    and 5 without the self-loop (min label 3 wins); a self-loop on 3
    inflates vol(3) and flips the pick to 5 — the volume penalty in
    one deterministic round."""
    from gminer_spark.graph.louvain import louvain_moves_weighted

    def run(selfw):
        rows = [(2, 3, 1), (2, 5, 1)] + (
            [(3, 3, selfw)] if selfw else []
        )
        we = spark.createDataFrame(rows, "src long, dst long, w long")
        return {
            r["id"]: r["community"]
            for r in louvain_moves_weighted(we, num_rounds=1).collect()
        }

    assert run(0)[2] == 3  # tie -> smaller community label
    assert run(1)[2] == 5  # self-loop volume penalty flips the pick


def test_global_modularity_hand_values(spark):
    """Two triangles + bridge, perfect labeling: Q = sum over the two
    communities of (i2*m2 - vol^2)/m2^2 computed by hand."""
    from gminer_spark.graph import tables as gt
    from gminer_spark.graph.community_metrics import global_modularity

    edges = edges_df(
        spark, [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10)]
    )
    sym = gt.symmetrize(edges)
    labels = spark.createDataFrame(
        [(v, 100) for v in (1, 2, 3)] + [(v, 200) for v in (10, 11, 12)],
        "id long, label long",
    )
    row = global_modularity(sym, labels).collect()[0]
    # m2 = 14; each community: i2 = 6 (3 internal edges), vol = 7
    qnum = 2 * (6 * 14 - 49)
    assert row["n_communities"] == 2
    assert row["modularity_micro"] == round(qnum / (14 * 14) * 1e6)


def test_latest_departure_hand_values(spark):
    """Path 1 -t=5-> 2 -t=3-> 3(target): edge times DECREASE, so 1
    cannot reach 3 time-respectingly (departure -1) though statically
    connected; 2 can leave as late as t=3; target departs at the
    deadline."""
    from gminer_spark.graph.temporal import latest_departure

    te = spark.createDataFrame(
        [(1, 2, 5), (2, 3, 3)], "src long, dst long, t long"
    )
    tgt = spark.createDataFrame([(3,)], "id long")
    got = {
        r["id"]: r["departure"]
        for r in latest_departure(te, tgt, deadline=10, num_iter=4).collect()
    }
    assert got == {1: -1, 2: 3, 3: 10}


def test_cpm_overlapping_membership(spark):
    """Two triangles sharing only vertex 3 stay separate communities
    and vertex 3 belongs to BOTH (overlap — no partition method can
    express this); adding the edge that makes them share an edge
    merges them."""
    from gminer_spark.graph.cpm import cpm_communities

    t1 = [(1, 2), (2, 3), (1, 3)]
    t2 = [(3, 4), (4, 5), (3, 5)]
    got = {}
    for r in cpm_communities(edges_df(spark, t1 + t2)).collect():
        got.setdefault(r["id"], set()).add(r["community"])
    assert len(got[3]) == 2  # vertex 3 overlaps both communities
    assert got[1] != got[5] and len(got[1]) == 1
    # make them share edge (2,3)->(3,4)? add (2,4): triangle (2,3,4)
    merged = {}
    for r in cpm_communities(
        edges_df(spark, t1 + t2 + [(2, 4)])
    ).collect():
        merged.setdefault(r["id"], set()).add(r["community"])
    assert merged[1] == merged[5] and len(merged[3]) == 1


def test_partition_ari_extremes(spark):
    """ARI formula sanity via the same exact-integer assembly the
    contract query uses: identical partitions -> 1e6; a maximally
    split vs merged pair -> 0 (the ARI null)."""

    def ari(pairs_a, pairs_b):
        import collections

        ct = collections.Counter(zip(pairs_a, pairs_b))
        n = len(pairs_a)

        def c2(x):
            return x * (x - 1) // 2

        s_ij = sum(c2(v) for v in ct.values())
        s_a = sum(
            c2(v) for v in collections.Counter(pairs_a).values()
        )
        s_b = sum(
            c2(v) for v in collections.Counter(pairs_b).values()
        )
        cn2 = c2(n)
        num = 2 * s_ij * cn2 - 2 * s_a * s_b
        den = (s_a + s_b) * cn2 - 2 * s_a * s_b
        return round(num / den * 1e6) if den else 0

    same = [1, 1, 2, 2, 3, 3]
    assert ari(same, [9, 9, 8, 8, 7, 7]) == 1_000_000
    # all-singletons vs all-one-cluster: s_ij = s_a = 0 -> ARI 0
    assert ari(list(range(6)), [1] * 6) == 0
