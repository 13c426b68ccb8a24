"""Plan guards for the PageRank superstep."""

from __future__ import annotations

from tests.conftest import edges_df, random_graph


def _plan_lines(df) -> int:
    return len(df._jdf.queryExecution().analyzed().treeString().splitlines())


def _spy_rounds(monkeypatch, seen):
    """Call ``seen(k, new_state)`` on each lazy round pagerank builds."""
    from gminer_spark.graph import pagerank as pr

    run = pr.run_supersteps

    def spy(init, step, *args, **kwargs):
        def traced(state, k):
            new_state, metrics = step(state, k)
            seen(k, new_state)
            return new_state, metrics

        return run(init, traced, *args, **kwargs)

    monkeypatch.setattr(pr, "run_supersteps", spy)


def _physical_nodes(node):
    """The executed plan's operators, through AQE query stages, but not
    into a cached relation (its plan ran when the cache was built)."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _physical_nodes(node.executedPlan())
        return
    if name.endswith("QueryStageExec"):
        yield from _physical_nodes(node.plan())
        return
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _physical_nodes(children.apply(i))


def test_round_is_one_message_shuffle(spark, monkeypatch):
    """A superstep's plan is edges⁺ ⋈ state on src and one groupBy on
    the message id: one shuffle Exchange, keyed on that id, and one
    join — none with a degree table."""
    from gminer_spark.graph import pagerank as pr

    plans = {}

    def seen(k, new_state):
        if k == 2:
            new_state.collect()  # AQE's final plan exists once it has run
            plans[k] = new_state._jdf.queryExecution().executedPlan()

    _spy_rounds(monkeypatch, seen)
    edges = edges_df(spark, random_graph(n=60, p=0.06, seed=17)).persist()
    edges.count()
    res = pr.pagerank(edges, num_iter=3)
    ranks = [r["rank"] for r in res.state.collect()]
    edges.unpersist()
    assert res.supersteps_run == 3 and abs(sum(ranks) - 1.0) < 1e-9

    nodes = list(_physical_nodes(plans[2]))
    names = [n.getClass().getSimpleName() for n in nodes]
    shuffles = [n for n in nodes if n.getClass().getSimpleName() == "ShuffleExchangeExec"]
    assert len(shuffles) == 1, names
    keys = shuffles[0].outputPartitioning().expressions()
    assert keys.size() == 1 and keys.apply(0).toString().startswith("id#"), keys.toString()
    joins = [n for n in names if "Join" in n]
    assert len(joins) == 1, names
    assert "InMemoryTableScanExec" in names  # the persisted edges⁺ table


def test_fixed_rounds_plan_does_not_grow(spark, monkeypatch):
    """A fixed-mode run without a store truncates lineage every round:
    the analyzed plan of round 12 is as large as round 2's."""
    from gminer_spark.graph import pagerank as pr

    sizes: dict[int, int] = {}
    _spy_rounds(monkeypatch, lambda k, df: sizes.__setitem__(k, _plan_lines(df)))
    edges = edges_df(spark, random_graph(n=60, p=0.06, seed=17))
    res = pr.pagerank(edges, num_iter=12)
    assert res.supersteps_run == 12
    assert sorted(sizes) == list(range(1, 13))
    assert sizes[2] == sizes[12], sizes
