"""Physical-plan asserts for the centrality family (VERDICT r2 #8).

The iterative BFS/Brandes/SSSP plans must stay equi-join shaped: no
cartesian products, no broadcast-nested-loop joins, and no O(|E|)
broadcast above the gate.  These are the 100-TB posture guarantees —
a plan regression here survives value checks (results stay right)
but melts at scale.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import edges_df, random_graph


def _final_plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_join_shaped(plan: str, label: str) -> None:
    assert "CartesianProduct" not in plan, label
    assert "BroadcastNestedLoopJoin" not in plan, label


def test_betweenness_plan_join_shaped(spark):
    from gminer_spark.graph import tables
    from gminer_spark.graph.betweenness import betweenness_sampled

    edges = edges_df(spark, random_graph(n=60, p=0.08, seed=31, directed=False))
    srcs = tables.vertices(edges).where(F.col("id") % 7 == 0)
    res = betweenness_sampled(edges, srcs, max_depth=4)
    _assert_join_shaped(_final_plan(res), "betweenness")


def test_harmonic_and_eccentricity_plans_join_shaped(spark):
    from gminer_spark.graph import tables
    from gminer_spark.graph.betweenness import (
        eccentricity_sampled,
        harmonic_sampled,
    )

    edges = edges_df(spark, random_graph(n=60, p=0.08, seed=32, directed=False))
    srcs = tables.vertices(edges).where(F.col("id") % 7 == 0)
    _assert_join_shaped(
        _final_plan(harmonic_sampled(edges, srcs, max_depth=4)), "harmonic"
    )
    _assert_join_shaped(
        _final_plan(eccentricity_sampled(edges, srcs, max_depth=4)),
        "eccentricity",
    )


def test_sssp_plan_join_shaped_and_no_ungated_broadcast(spark):
    """SSSP per-superstep joins: equi-join shaped, and with the
    broadcast threshold forced off the plan must contain NO
    BroadcastExchange (the shuffle fallback is the at-scale path)."""
    from gminer_spark.graph import tables
    from gminer_spark.graph.sssp import shortest_paths

    edges = edges_df(spark, random_graph(n=60, p=0.08, seed=33, directed=False))
    srcs = tables.vertices(edges).where(F.col("id") % 11 == 0)
    res = shortest_paths(edges, srcs).state
    _assert_join_shaped(_final_plan(res), "sssp")

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        res2 = shortest_paths(edges, srcs).state
        plan = _final_plan(res2)
        _assert_join_shaped(plan, "sssp-shuffle")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_node2vec_step_plan_join_shaped(spark):
    from gminer_spark.graph.walks import random_walks_node2vec

    edges = edges_df(spark, random_graph(n=50, p=0.1, seed=34, directed=False))
    res = random_walks_node2vec(edges, walk_len=2, ret_bias=3, in_bias=2)
    _assert_join_shaped(_final_plan(res), "node2vec")


def test_cocitation_coupling_plans_topk_and_join_shaped(spark):
    """Top-k pair queries must compile to TakeOrderedAndProject (a
    distributed partial top-k), never a global Sort, and the wedge
    self-join must stay equi-join shaped."""
    from gminer_spark.graph.cocitation import cocitation_topk, coupling_topk

    edges = edges_df(spark, random_graph(n=60, p=0.08, seed=33, directed=True))
    for fn, label in ((cocitation_topk, "cocitation"), (coupling_topk, "coupling")):
        plan = _final_plan(fn(edges, top_k=10))
        _assert_join_shaped(plan, label)
        assert "TakeOrderedAndProject" in plan, label


def test_cooccurrence_plan_topk_no_range_join(spark):
    """The W-offset joins must be EQUI joins on (doc_id, pos+d) — a
    naive pos-BETWEEN join would plan as a non-equi nested loop over
    the full token table.  The only nested-loop allowed is the 1-row
    broadcast crossJoin carrying the corpus total (a global scalar
    joined back onto every row), which is bounded by construction."""
    from gminer_spark.textops.cooccur import cooccurrence_topk

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(20)],
        "doc_id long, text string",
    )
    plan = _final_plan(cooccurrence_topk(docs, window=2, k=5, min_count=1))
    assert "CartesianProduct" not in plan, "cooccurrence"
    assert plan.count("BroadcastNestedLoopJoin") == 1, "only the 1-row total"
    assert "rpos" in plan and "BETWEEN" not in plan


def test_landmark_sketch_plan_join_shaped(spark):
    from gminer_spark.graph.landmarks import landmark_sketch

    edges = edges_df(spark, random_graph(n=60, p=0.08, seed=34, directed=False))
    plan = _final_plan(landmark_sketch(edges, k=3, max_depth=4))
    _assert_join_shaped(plan, "landmark_sketch")


def test_trussness_round_plan_join_shaped(spark):
    from gminer_spark.graph.trussness import trussness

    edges = edges_df(spark, random_graph(n=40, p=0.15, seed=35, directed=False))
    plan = _final_plan(trussness(edges, num_iter=2))
    _assert_join_shaped(plan, "trussness")


def test_bm25_plan_topk_no_global_sort(spark):
    """corpus_retrieval must compile to TakeOrderedAndProject (partial
    top-k) with the query-term filter pushed below the tf aggregation
    — never a global Sort over all scored docs (r5 verdict task #2)."""
    from gminer_spark.textops.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [(i, f"spark join fast w{i % 7} stream vector row") for i in range(40)],
        "doc_id long, text string",
    )
    plan = _final_plan(bm25_topk(docs, ["spark", "vector"], k=5))
    assert "TakeOrderedAndProject" in plan
    # the only nested-loop join allowed is the broadcast 1-row stats
    # aggregate (the repo's accepted crossJoin idiom)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    # term filter must sit below the tf aggregation (pre-agg pushdown)
    assert "Filter word" in plan


def test_itemsets_plan_join_shaped_partial_agg(spark):
    """A-Priori level joins stay equi-join shaped with partial
    (map-side) aggregation on the support counts."""
    from gminer_spark.itemsets import frequent_itemsets

    b = spark.createDataFrame(
        [(i % 17, i % 11) for i in range(200)], "basket long, item long"
    )
    plan = _final_plan(frequent_itemsets(b, min_support=2))
    _assert_join_shaped(plan, "itemsets")
    assert "partial_count" in plan or "HashAggregate" in plan


def test_hybrid_rrf_plan_topk_no_global_sort(spark):
    """The fused ranking must be TakeOrderedAndProject (top-k), not a
    full Sort+Limit over the candidate table."""
    from gminer_spark.textops.retrieval import hybrid_rrf

    d = spark.createDataFrame(
        [(i, f"apple word{i} text", "en", "s", 10) for i in range(30)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    emb = spark.createDataFrame(
        [(i, [float(i % 7), 1.0]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    plan = _final_plan(hybrid_rrf(d, emb, ["apple"], query_vec_id=0))
    # the 1-row broadcast query-vector cross is a deliberate BNLJ
    # (the ann_cosine pattern); the posture claims here are top-k
    # and no cartesian blowup
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_allpairs_prefix_plan_join_shaped(spark):
    """The prefix-filter candidate join must stay an equi-join on the
    shingle key (never a cartesian verify)."""
    from gminer_spark.textops.dedup import allpairs_jaccard

    d = spark.createDataFrame(
        [(i, "w%d x%d y z a b c d" % (i % 5, i % 3)) for i in range(20)],
        "doc_id long, text string",
    )
    plan = _final_plan(allpairs_jaccard(d, threshold_micro=300_000))
    _assert_join_shaped(plan, "allpairs")
