"""The ``superstep.fixpoint`` round: origin-free state, one action per round."""

from __future__ import annotations

from pyspark.sql import functions as F


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
        analyzed = out._jdf.queryExecution().analyzed()
        rounds_seen.append(len(analyzed.treeString().splitlines()))
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
    # the analyzed round plan stays the same size: the state is a leaf
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
