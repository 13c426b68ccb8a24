"""Resumability: a run killed mid-iteration resumes from the last
committed superstep and converges to the identical result
(BASELINE.json north_rule)."""

from __future__ import annotations

import os

import pytest

from tests.conftest import STAR, edges_df, random_graph


def test_pagerank_resume_equals_uninterrupted(spark, tmp_path):
    from gminer_spark.checkpoint import CheckpointStore
    from gminer_spark.graph.pagerank import pagerank

    pairs = random_graph(n=100, p=0.05, seed=3)
    edges = edges_df(spark, pairs)

    # uninterrupted reference run
    ref = pagerank(edges, tol=1e-8, max_iter=100)
    want = {r["id"]: r["rank"] for r in ref.state.collect()}

    # "killed" run: stop after 3 supersteps
    store = CheckpointStore(spark, str(tmp_path / "ck"))
    partial = pagerank(edges, tol=1e-8, max_iter=3, store=store)
    assert not partial.converged
    assert store.committed_steps() == [0, 1, 2, 3]

    # resume from the same store — must continue at superstep 4
    resumed = pagerank(edges, tol=1e-8, max_iter=100, store=store, resume=True)
    assert resumed.converged
    assert resumed.history[0]["superstep"] == 4
    got = {r["id"]: r["rank"] for r in resumed.state.collect()}
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-9)

    # a fresh call on the converged store is a no-op
    again = pagerank(edges, tol=1e-8, max_iter=100, store=store, resume=True)
    assert again.supersteps_run == 0 and again.converged


def test_pagerank_fixed_iteration_resume_equals_uninterrupted(spark, tmp_path):
    """Fixed-iteration mode carries each round's dangling mass on the
    round's own action; a state resumed from the store has none and
    takes the one-aggregate fallback."""
    from gminer_spark.checkpoint import CheckpointStore
    from gminer_spark.graph.pagerank import pagerank

    # a sparse graph so some vertices are dangling (out_deg == 0)
    edges = edges_df(spark, random_graph(n=100, p=0.02, seed=4))
    want = {r["id"]: r["rank"] for r in pagerank(edges, num_iter=6).state.collect()}

    class Killed(Exception):
        pass

    class KilledAtStep4(CheckpointStore):
        def commit(self, superstep, state, metrics):
            if superstep == 4:
                raise Killed
            return super().commit(superstep, state, metrics)

    # "killed" run: dies while committing superstep 4
    with pytest.raises(Killed):
        pagerank(edges, num_iter=6, store=KilledAtStep4(spark, str(tmp_path / "fixed")))
    store = CheckpointStore(spark, str(tmp_path / "fixed"))
    assert store.committed_steps() == [0, 1, 2, 3]

    resumed = pagerank(edges, num_iter=6, store=store, resume=True)
    assert [m["superstep"] for m in resumed.history] == [4, 5, 6]
    got = {r["id"]: r["rank"] for r in resumed.state.collect()}
    assert got.keys() == want.keys()
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-9)


def test_cc_resume(spark, tmp_path):
    from gminer_spark.checkpoint import CheckpointStore
    from gminer_spark.graph.cc import connected_components

    pairs = random_graph(n=120, p=0.01, seed=5, directed=False)
    edges = edges_df(spark, pairs)
    want = {
        r["id"]: r["component"]
        for r in connected_components(edges).state.collect()
    }
    store = CheckpointStore(spark, str(tmp_path / "cc"))
    connected_components(edges, max_iter=2, store=store)
    resumed = connected_components(edges, store=store, resume=True)
    got = {r["id"]: r["component"] for r in resumed.state.collect()}
    assert got == want


def test_orphan_state_dir_ignored(spark, tmp_path):
    """A crash between state write and manifest commit leaves an orphan
    directory — it must be invisible to latest()."""
    from gminer_spark.checkpoint import CheckpointStore

    store = CheckpointStore(spark, str(tmp_path / "orph"))
    df = spark.createDataFrame([(1, 0.5)], "id long, rank double")
    store.commit(0, df, {"phase": "init"})
    # orphan: state written for step 7 but no manifest entry
    orphan = os.path.join(store.base, "state", "step=7")
    df.write.parquet(orphan)
    k, state, _ = store.latest()
    assert k == 0
    assert state.count() == 1


def test_metrics_lineage_table(spark, tmp_path):
    from gminer_spark.checkpoint import CheckpointStore
    from gminer_spark.graph.pagerank import pagerank

    store = CheckpointStore(spark, str(tmp_path / "m"))
    edges = edges_df(spark, STAR)
    pagerank(edges, num_iter=4, store=store)
    m = store.metrics()
    rows = {r["superstep"] for r in m.collect()}
    assert {0, 1, 2, 3, 4} <= rows
    cols = set(m.columns)
    assert {"superstep", "edges_scanned", "messages_shuffled"} <= cols
    types = dict(m.dtypes)
    assert types["superstep"] == "bigint"
    assert types["edges_scanned"] == "double"
    # the init row's string column merges with the iterate rows'
    phase = {r["superstep"]: r["phase"] for r in m.collect()}
    assert types["phase"] == "string"
    assert phase[0] == "init" and phase[1] is None
    assert {r["edges_scanned"] for r in m.where("superstep > 0").collect()} == {
        float(len(STAR))
    }

    # tol mode adds a delta column; the table reads back the same way
    tol_store = CheckpointStore(spark, str(tmp_path / "mt"))
    res = pagerank(edges, tol=1e-6, max_iter=50, store=tol_store)
    mt = tol_store.metrics()
    types = dict(mt.dtypes)
    assert types["superstep"] == "bigint" and types["delta"] == "double"
    assert types["phase"] == "string"
    got = sorted(r["superstep"] for r in mt.collect())
    assert got == list(range(res.last_superstep + 1))


def test_recommit_truncates_stale_later_steps(spark, tmp_path):
    """Re-running a store from scratch (resume=False / shorter run) must
    invalidate a previous run's LATER supersteps: committing step k
    drops every manifest entry > k and any stale final marker, so a
    subsequent latest()/resume cannot continue from dead state."""
    from gminer_spark.checkpoint import CheckpointStore
    from gminer_spark.graph.superstep import _mark_final

    store = CheckpointStore(spark, str(tmp_path / "s"))
    df = spark.createDataFrame([(1, 1.0)], "id long, rank double")
    for k in range(4):
        store.commit(k, df, {"k": k})
    _mark_final(store, 3)

    # fresh run over the same store commits step 0 then step 1
    store.commit(0, df, {"k": 0})
    assert store.committed_steps() == [0]
    assert store._read_manifest().get("final_superstep") is None
    store.commit(1, df, {"k": 1})
    assert store.committed_steps() == [0, 1]
    k, _, m = store.latest()
    assert k == 1 and m["k"] == 1
