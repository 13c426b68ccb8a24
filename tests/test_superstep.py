"""The ``superstep.fixpoint``, ``superstep.peel`` and ``superstep.grow``
rounds: origin-free state, one action per round."""

from __future__ import annotations

from pyspark.sql import functions as F


def _plan_shape(df):
    """(lines of the analyzed plan, its estimated bytes).  The tree
    string hides the origin a Spark-4 ``localCheckpoint`` leaf keeps,
    but not the stats it copies from it: a step that reads such a state
    twice doubles the estimate every round."""
    qe = df._jdf.queryExecution()
    lines = len(qe.analyzed().treeString().splitlines())
    return lines, qe.optimizedPlan().stats().sizeInBytes()


def _count_down(spark, rounds_seen):
    """(id, v) with v = id % 6; each round lowers v by one to a floor of
    0.  The round plan reads its state twice (even ids, odd ids), the
    shape that makes an un-truncated state plan double per round."""

    def step(state, k):
        even = state.where(F.col("id") % 2 == 0)
        odd = state.where(F.col("id") % 2 == 1)
        out = (
            even.unionByName(odd)
            .coalesce(4)
            .select(
                "id",
                F.greatest(F.col("v") - 1, F.lit(0)).alias("v"),
                (F.col("v") > 0).alias("moved"),
            )
        )
        rounds_seen.append(_plan_shape(out))
        return out

    init = spark.range(0, 40, numPartitions=4).select(
        "id", (F.col("id") % 6).alias("v")
    )
    return init, step


def test_fixpoint_state_plan_constant_and_one_action_per_round(spark):
    from gminer_spark.graph.superstep import fixpoint
    from tests.test_job_budgets import _jobs

    nodes: list[int] = []
    init, step = _count_down(spark, nodes)
    leaf = init.localCheckpoint()
    with _jobs(spark, "fixpoint-count-jobs") as count_ids:
        leaf.where(F.col("v") > 0).count()
    with _jobs(spark, "fixpoint-call") as ids:
        res = fixpoint(
            init, step, F.col("moved"), max_iter=20, metrics={"edges_scanned": 7}
        )
    # v reaches 0 after 5 rounds; the 6th changes nothing
    assert res.converged and res.supersteps_run == 6
    assert sorted(tuple(r) for r in res.state.select("id", "v").collect()) == [
        (i, 0) for i in range(40)
    ]
    # the analyzed round plan stays the same size: the state is an
    # origin-free leaf
    assert len(nodes) == 6 and nodes[1] == nodes[-1], nodes
    # one init checkpoint job, then per round only the changed-count,
    # which also materializes the round's barrier
    assert len(ids) == 1 + 6 * len(count_ids), (len(ids), len(count_ids))
    assert [m["changed"] for m in res.history] == [33, 26, 19, 12, 6, 0]
    assert set(res.history[0]) == {
        "edges_scanned", "delta", "changed", "superstep", "wall_sec"
    }


def test_fixpoint_reports_the_cap(spark):
    from gminer_spark.graph.superstep import fixpoint

    init, step = _count_down(spark, [])
    res = fixpoint(init, step, F.col("moved"), max_iter=3)
    assert not res.converged and res.supersteps_run == 3
    assert res.history[-1]["changed"] == 19


def _drop_top(rounds_seen, keep=0):
    """Each round drops the largest id of the state (ids 0..n-1) while
    more than ``keep`` rows are left.  The round plan reads its state
    twice (even ids, odd ids)."""

    def step(state, n):
        even = state.where(F.col("id") % 2 == 0)
        odd = state.where(F.col("id") % 2 == 1)
        out = even.unionByName(odd).coalesce(4).where(
            F.col("id") < max(n - 1, keep)
        )
        rounds_seen.append(_plan_shape(out))
        return out

    return step


def test_peel_state_plan_constant_and_one_action_per_round(spark):
    """Twelve rounds of a multi-ref step: the state stays an origin-free
    leaf, so round 12's analyzed plan is as large as round 2's."""
    from gminer_spark.graph.superstep import peel
    from tests.test_job_budgets import _jobs

    nodes: list[int] = []
    step = _drop_top(nodes)
    init = spark.range(0, 12, numPartitions=4).select("id").localCheckpoint()
    with _jobs(spark, "peel-count-jobs") as count_ids:
        init.where(F.col("id") < 11).count()
    with _jobs(spark, "peel-call") as ids:
        state, n, converged = peel(init, 12, step)
    assert (n, converged, state.count()) == (0, True, 0)
    assert len(nodes) == 12 and nodes[1] == nodes[-1], nodes
    # per round only the count, which also materializes the barrier
    assert len(ids) == 12 * len(count_ids), (len(ids), len(count_ids))


def test_peel_stops_on_a_round_that_removes_nothing(spark):
    from gminer_spark.graph.superstep import peel

    init = spark.range(0, 12, numPartitions=4).select("id").localCheckpoint()
    rounds: list = []
    assert peel(init, 12, _drop_top(rounds, keep=12), max_iter=5)[1:] == (12, True)
    assert len(rounds) == 1
    # the cap stops the loop with rows still going
    rounds.clear()
    assert peel(init, 12, _drop_top(rounds), max_iter=5)[1:] == (7, False)
    assert len(rounds) == 5
    # the last allowed round removes nothing: the fixpoint is confirmed
    rounds.clear()
    assert peel(init, 12, _drop_top(rounds, keep=8), max_iter=5)[1:] == (8, True)
    assert len(rounds) == 5
    rounds.clear()
    assert peel(init.limit(0), 0, _drop_top(rounds))[1:] == (0, True)
    assert rounds == []


def _walk_path(spark, links, rounds_seen):
    """BFS along the directed path 0 -> 1 -> ... -> ``links``: level d
    is ``{d}``.  The step records the plan shape of its output."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(links)], "src long, dst long"
    ).localCheckpoint()

    def step(level):
        out = (
            edges.join(level.withColumnRenamed("id", "src"), on="src")
            .select(F.col("dst").alias("id"))
            .distinct()
        )
        rounds_seen.append(_plan_shape(out))
        return out

    return spark.range(0, 1).select("id").localCheckpoint(), step


def test_grow_levels_stay_origin_free(spark):
    """Twelve levels: each is an origin-free leaf, so the round that
    makes level 12 plans as small as the one that makes level 2,
    although every level was derived through the anti-join against
    all earlier ones."""
    from gminer_spark.graph.superstep import grow

    nodes: list = []
    init, step = _walk_path(spark, 12, nodes)
    levels, n, converged = grow(init, step, ["id"])
    assert (n, converged) == (12, True)
    assert [[r["id"] for r in lvl.collect()] for lvl in levels] == [
        [d] for d in range(13)
    ]
    # 12 rounds that add a level, one that adds nothing
    assert len(nodes) == 13 and nodes[1] == nodes[11], nodes


def test_grow_stops_on_an_empty_round_or_the_cap(spark):
    from gminer_spark.graph.superstep import grow

    rounds: list = []
    init, step = _walk_path(spark, 12, rounds)
    levels, n, converged = grow(init.limit(0), step, ["id"])
    assert (len(levels), n, converged, len(rounds)) == (1, 0, True, 1)
    # the cap stops the loop with rows still coming
    rounds.clear()
    levels, n, converged = grow(init, step, ["id"], max_iter=3)
    assert (len(levels), n, converged, len(rounds)) == (4, 3, False, 3)
    assert levels[-1].collect()[0]["id"] == 3
