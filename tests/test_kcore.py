"""k-core / coreness vs an exact python peeling oracle."""

from __future__ import annotations

import pytest

from tests.conftest import K5, edges_df, random_graph


def peel_oracle(pairs, k):
    adj: dict[int, set[int]] = {}
    for s, d in pairs:
        if s == d:
            continue
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    core = set(adj)
    while True:
        drop = {v for v in core if len(adj[v] & core) < k}
        if not drop:
            return core
        core -= drop


def coreness_oracle(pairs):
    out: dict[int, int] = {}
    verts = {v for e in pairs for v in e}
    for v in verts:
        out[v] = 0
    k = 0
    while True:
        k += 1
        core = peel_oracle(pairs, k)
        if not core:
            return out
        for v in core:
            out[v] = k


def test_k_core_k5_plus_tail(spark):
    from gminer_spark.graph.kcore import k_core

    # K5 with a pendant path: 4-core = the K5 only
    pairs = K5 + [(5, 100), (100, 101)]
    got = {r["id"] for r in k_core(edges_df(spark, pairs), k=4).collect()}
    assert got == {1, 2, 3, 4, 5}
    # 1-core = everything
    got1 = {r["id"] for r in k_core(edges_df(spark, pairs), k=1).collect()}
    assert got1 == {1, 2, 3, 4, 5, 100, 101}


@pytest.mark.parametrize("seed,k", [(3, 2), (3, 3), (11, 4)])
def test_k_core_random_vs_oracle(spark, seed, k):
    from gminer_spark.graph.kcore import k_core

    pairs = random_graph(n=80, p=0.08, seed=seed, directed=False)
    want = peel_oracle(pairs, k)
    got = {r["id"] for r in k_core(edges_df(spark, pairs), k=k).collect()}
    assert got == want


def test_coreness_random_vs_oracle(spark):
    from gminer_spark.graph.kcore import coreness

    pairs = random_graph(n=60, p=0.1, seed=7, directed=False)
    want = coreness_oracle(pairs)
    got = {r["id"]: r["coreness"] for r in coreness(edges_df(spark, pairs)).collect()}
    assert got == want


def test_k_core_empty_and_deterministic(spark):
    from gminer_spark.graph.kcore import k_core

    pairs = random_graph(n=50, p=0.06, seed=5, directed=False)
    edges = edges_df(spark, pairs)
    # k larger than max degree: empty core, no crash
    assert k_core(edges, k=10_000).count() == 0
    a = {r["id"] for r in k_core(edges.repartition(1), k=3).collect()}
    b = {r["id"] for r in k_core(edges.repartition(32), k=3).collect()}
    assert a == b


def test_kcore_capped_run_equals_unrolled_oracle_semantics(spark):
    """The contract invariant: a run capped at N iterations equals the
    N-times-unrolled peel even when N overshoots convergence."""
    from gminer_spark.graph.kcore import k_core

    pairs = random_graph(n=80, p=0.08, seed=13, directed=False)
    edges = edges_df(spark, pairs)
    exact = {r["id"] for r in k_core(edges, k=3, max_iter=50).collect()}
    capped = {r["id"] for r in k_core(edges, k=3, max_iter=8).collect()}
    # this graph converges well under 8 rounds (oracle-checked)
    assert peel_oracle(pairs, 3) == exact == capped


@pytest.mark.parametrize("seed", [3, 11])
def test_coreness_hindex_matches_peel(spark, seed):
    """The h-index fixpoint must agree with peel-based coreness (and
    hence the exact python oracle) on random graphs."""
    from gminer_spark.graph.kcore import coreness_hindex

    pairs = random_graph(n=70, p=0.09, seed=seed, directed=False)
    want = coreness_oracle(pairs)
    got = {
        r["id"]: r["coreness"]
        for r in coreness_hindex(edges_df(spark, pairs)).collect()
    }
    assert got == want


def test_coreness_hindex_fixed_rounds_idempotent(spark):
    """Contract invariant: overshooting num_iter past the fixpoint
    leaves the values unchanged (capped run == unrolled oracle)."""
    from gminer_spark.graph.kcore import coreness_hindex

    pairs = random_graph(n=60, p=0.1, seed=9, directed=False)
    edges = edges_df(spark, pairs)
    auto = {
        r["id"]: r["coreness"] for r in coreness_hindex(edges).collect()
    }
    capped = {
        r["id"]: r["coreness"]
        for r in coreness_hindex(edges, num_iter=40).collect()
    }
    assert auto == capped == coreness_oracle(pairs)


def score_peel_oracle(wpairs, k):
    """Exact s-core peel: strength = sum of incident weights within
    the survivor set."""
    adj: dict[int, dict[int, int]] = {}
    for s, d, w in wpairs:
        if s == d:
            continue
        adj.setdefault(s, {})[d] = w
        adj.setdefault(d, {})[s] = w
    core = set(adj)
    while True:
        drop = {
            v for v in core if sum(w for u, w in adj[v].items() if u in core) < k
        }
        if not drop:
            return core
        core -= drop


@pytest.mark.parametrize("k", [3, 6])
def test_s_core_random_vs_oracle(spark, k):
    import numpy as np

    from gminer_spark.graph.kcore import s_core

    rng = np.random.default_rng(15)
    pairs = random_graph(n=70, p=0.08, seed=15, directed=False)
    wpairs = [(s, d, int(rng.integers(1, 4))) for s, d in pairs]
    wdf = spark.createDataFrame(wpairs, "src long, dst long, w long")
    got = {r["id"] for r in s_core(wdf, k=k, weight_col="w").collect()}
    assert got == score_peel_oracle(wpairs, k)


def test_s_core_unit_weights_equals_k_core(spark):
    from gminer_spark.graph.kcore import k_core, s_core

    pairs = random_graph(n=60, p=0.09, seed=20, directed=False)
    wdf = spark.createDataFrame(
        [(s, d, 1) for s, d in pairs], "src long, dst long, w long"
    )
    a = {r["id"] for r in s_core(wdf, k=4, weight_col="w").collect()}
    b = {r["id"] for r in k_core(edges_df(spark, pairs), k=4).collect()}
    assert a == b

