"""Parity with the reference's own 15-vertex sample graph.

The adjacency below reproduces /root/reference/sample-datasets/
normal_sample.adj (the de-facto fixture of the reference,
docs/TUTORIALS.md:12-42) — the graph run through BOTH ingestion paths
(.adj text reader and the pages/html spine) and every algorithm,
cross-checked against the numpy oracles.
"""

from __future__ import annotations

import pytest

from tests.oracle import graph_oracle as oracle

# vid -> undirected neighbor list, verbatim structure of the sample
SAMPLE_ADJ = {
    1: [2, 4, 5],
    2: [1, 3, 5],
    3: [2, 4, 5, 13],
    4: [1, 3, 5, 9],
    5: [1, 2, 3, 4],
    6: [7, 9, 10],
    7: [6, 8, 10, 11],
    8: [7, 9, 10],
    9: [4, 6, 8, 10],
    10: [6, 7, 8, 9],
    11: [7, 12, 14, 15],
    12: [11, 13, 15],
    13: [3, 12, 14, 15],
    14: [11, 13, 15],
    15: [11, 12, 13, 14],
}

PAIRS = sorted(
    {(min(v, n), max(v, n)) for v, ns in SAMPLE_ADJ.items() for n in ns}
)

ADJ_TEXT = "\n".join(
    f"{v}\t{len(ns)} " + " ".join(str(n) for n in ns)
    for v, ns in SAMPLE_ADJ.items()
)


@pytest.fixture(scope="module")
def sample_edges(spark):
    return spark.createDataFrame(PAIRS, "src long, dst long").persist()


def test_adj_reader_reproduces_sample(spark, tmp_path):
    from gminer_spark.web.adj_format import read_normal

    p = tmp_path / "sample.adj"
    p.write_text(ADJ_TEXT + "\n")
    e = read_normal(spark, str(p))
    got = {(min(r.src, r.dst), max(r.src, r.dst)) for r in e.collect()}
    assert got == set(PAIRS)


def test_pages_spine_reproduces_sample(spark):
    from gminer_spark.web.edges import pages_to_edges
    from gminer_spark.web.fixtures import pages_df

    pages = pages_df(spark, PAIRS, namespace="ref13")
    assert pages_to_edges(pages, canonicalize=True).count() == len(PAIRS)


def test_sample_triangles(spark, sample_edges):
    from gminer_spark.graph.triangles import triangle_count

    want = oracle.triangles(PAIRS)
    assert triangle_count(sample_edges) == want


def test_sample_cc_single_component(spark, sample_edges):
    from gminer_spark.graph.cc import connected_components

    got = {
        r["id"]: r["component"]
        for r in connected_components(sample_edges).state.collect()
    }
    assert got == oracle.cc(PAIRS)
    assert set(got.values()) == {1}


def test_sample_pagerank(spark, sample_edges):
    from gminer_spark.graph.pagerank import pagerank

    res = pagerank(sample_edges, num_iter=20)
    got = {r["id"]: r["rank"] for r in res.state.collect()}
    want = oracle.pagerank(PAIRS, num_iter=20)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-9)


def test_sample_max_clique(spark, sample_edges):
    from gminer_spark.graph.mining import max_clique

    # {1,2,5} ∪ {3,4,5}… largest cliques are size 3 in the sample;
    # verify against independent Bron–Kerbosch
    from tests.test_mining import bron_kerbosch_max

    want_size, _ = bron_kerbosch_max(PAIRS)
    size, members = max_clique(sample_edges)
    assert size == want_size
