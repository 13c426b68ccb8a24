"""k-truss vs an exact python support-peeling oracle."""

from __future__ import annotations

import pytest

from tests.conftest import K5, edges_df, random_graph


def truss_oracle(pairs, k):
    adj: dict[int, set[int]] = {}
    E = set()
    for s, d in pairs:
        if s == d:
            continue
        a, b = min(s, d), max(s, d)
        E.add((a, b))
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    while True:
        drop = {(a, b) for (a, b) in E if len(adj[a] & adj[b]) < k - 2}
        if not drop:
            return E
        E -= drop
        for a, b in drop:
            adj[a].discard(b)
            adj[b].discard(a)


def test_k_truss_k5_with_tail(spark):
    from gminer_spark.graph.ktruss import k_truss

    pairs = K5 + [(5, 100), (100, 101)]
    got = {(r["src"], r["dst"]) for r in k_truss(edges_df(spark, pairs), k=5).collect()}
    assert got == {(a, b) for a, b in K5}  # every K5 edge has support 3
    assert k_truss(edges_df(spark, pairs), k=6).count() == 0


@pytest.mark.parametrize("seed,k", [(3, 3), (3, 4), (11, 5)])
def test_k_truss_random_vs_oracle(spark, seed, k):
    from gminer_spark.graph.ktruss import k_truss

    pairs = random_graph(n=60, p=0.12, seed=seed, directed=False)
    want = truss_oracle(pairs, k)
    got = {(r["src"], r["dst"]) for r in k_truss(edges_df(spark, pairs), k=k).collect()}
    assert got == want


def test_k_truss_deterministic_and_guards(spark):
    from gminer_spark.graph.ktruss import k_truss

    pairs = random_graph(n=50, p=0.1, seed=5, directed=False)
    edges = edges_df(spark, pairs)
    a = {(r["src"], r["dst"]) for r in k_truss(edges.repartition(1), k=4).collect()}
    b = {(r["src"], r["dst"]) for r in k_truss(edges.repartition(32), k=4).collect()}
    assert a == b == truss_oracle(pairs, 4)
    with pytest.raises(ValueError):
        k_truss(edges, k=2)


# -- full truss decomposition ------------------------------------------------


def _truss_python(pairs):
    """Brute-force peeling: trussness(e) = max k with e in the k-truss."""
    edges = {tuple(sorted((s, d))) for s, d in pairs if s != d}
    truss = {e: 2 for e in edges}
    cur = set(edges)
    k = 2
    while cur:
        k += 1
        while True:
            nbrs = {}
            for a, b in cur:
                nbrs.setdefault(a, set()).add(b)
                nbrs.setdefault(b, set()).add(a)
            peeled = {
                (a, b)
                for a, b in cur
                if len(nbrs[a] & nbrs[b]) < k - 2
            }
            if not peeled:
                break
            for e in peeled:
                truss[e] = k - 1
            cur -= peeled
    return truss


def test_trussness_matches_peeling(spark):
    from tests.conftest import edges_df, random_graph

    from gminer_spark.graph.trussness import trussness

    pairs = random_graph(n=40, p=0.15, seed=8, directed=False)
    got = {
        (r.src, r.dst): r.trussness
        for r in trussness(edges_df(spark, pairs)).collect()
    }
    assert got == _truss_python(pairs)


def test_trussness_k5_closed_form(spark):
    from tests.conftest import K5, edges_df

    from gminer_spark.graph.trussness import trussness

    got = {(r.src, r.dst): r.trussness for r in trussness(edges_df(spark, K5)).collect()}
    assert set(got.values()) == {5} and len(got) == 10


def test_trussness_deterministic_and_fixed_iter_parity(spark):
    from tests.conftest import edges_df, random_graph

    import gminer_spark.graph.trussness as tr

    pairs = random_graph(n=35, p=0.15, seed=4, directed=False)
    free = sorted(map(tuple, tr.trussness(edges_df(spark, pairs)).collect()))
    rounds = tr.last_rounds
    fixed = sorted(
        map(
            tuple,
            tr.trussness(
                edges_df(spark, pairs).repartition(5), num_iter=rounds + 2
            ).collect(),
        )
    )
    assert free == fixed


def test_bitruss_peel_fixpoint_and_support_floor(spark):
    """(k,2)-bitruss: every surviving edge has >= k butterflies within
    the surviving subgraph, peel is monotone, deterministic under
    partitioning, and idempotent past the fixpoint."""
    from pyspark.sql import functions as F

    from gminer_spark.graph.butterflies import bitruss
    from tests.conftest import bipartite_incidence

    incid = spark.createDataFrame(bipartite_incidence(), "left long, right long")

    out = bitruss(incid, k=8, max_right_deg=64).collect()
    assert out
    assert all(r.sup >= 8 for r in out)

    # idempotent: a cap far past the fixpoint gives the same set
    again = bitruss(incid, k=8, max_right_deg=64, max_iter=12).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))

    # partitioning-invariant
    rep = bitruss(
        incid.repartition(7, "right"), k=8, max_right_deg=64
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, rep))

    # monotone: larger k survives a subset
    sub = bitruss(incid, k=12, max_right_deg=64).collect()
    assert {(r.lid, r.rid) for r in sub} <= {(r.lid, r.rid) for r in out}


def test_truss_community_selects_seed_component(spark):
    """Two disjoint K5s: k=4 truss keeps both; the community around
    the min surviving vertex is ONLY its own clique."""
    from tests.conftest import edges_df

    from gminer_spark.graph.ktruss import truss_community

    k5a = [(i, j) for i in range(1, 6) for j in range(1, 6) if i < j]
    k5b = [(i, j) for i in range(10, 15) for j in range(10, 15) if i < j]
    got = {
        (r["src"], r["dst"])
        for r in truss_community(
            edges_df(spark, k5a + k5b + [(5, 10)]), k=4
        ).collect()
    }
    assert got == set(k5a)  # the bridge and clique B excluded
