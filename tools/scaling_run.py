"""One scaling-bench run in a fresh JVM: a named job at a given core
count.  Prints one JSON line.  Warm-up runs the SAME job once at full
parallelism first (python workers, JIT, shuffle service), so the
measurement is steady-state.

Usage: python tools/scaling_run.py <job> <cores> <input_path> [iters]
jobs: pagerank | extract | tc | tc_kernel | sssp | coreness | betweenness
      | focusco | hits | node2vec
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    job = sys.argv[1]
    cores = int(sys.argv[2])
    path = sys.argv[3]
    iters = int(sys.argv[4]) if len(sys.argv) > 4 else 5

    from gminer_spark.session import get_spark

    spark = get_spark(
        app_name=f"scaling_{job}_{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
    )

    REPS = 3  # min-of-reps: steady-state under VM noise / GC jitter (spread
    # observed on this VM: identical pagerank runs span 11-19 s)

    if job == "pagerank":
        from gminer_spark.graph.pagerank import pagerank

        edges = spark.read.parquet(path)
        n_items = edges.count()
        pagerank(edges, num_iter=1)  # warm-up
        secs = []
        for _ in range(REPS):
            t0 = time.time()
            pagerank(edges, num_iter=iters)
            secs.append(time.time() - t0)
        sec = min(secs)
        throughput = n_items * iters / sec
        extra = {"supersteps_per_hour": round(iters / sec * 3600, 1),
                 "reps_sec": [round(s, 1) for s in secs]}
    elif job == "extract":
        from gminer_spark.web.edges import pages_to_edges

        pages = spark.read.parquet(path)
        n_items = pages_to_edges(pages).count()  # full-parallelism warm-up
        secs = []
        for _ in range(REPS):
            t0 = time.time()
            pages_to_edges(pages).count()
            secs.append(time.time() - t0)
        sec = min(secs)
        throughput = n_items / sec
        extra = {"reps_sec": [round(s, 1) for s in secs]}
    elif job == "tc":
        from gminer_spark.graph.triangles import triangle_count

        edges = spark.read.parquet(path).persist()
        n_items = edges.count()
        triangle_count(edges)  # warm-up
        secs = []
        n_tri = 0
        for _ in range(REPS):
            t0 = time.time()
            n_tri = triangle_count(edges)
            secs.append(time.time() - t0)
        sec = min(secs)
        throughput = n_items / sec
        extra = {"triangles": n_tri, "reps_sec": [round(s, 1) for s in secs]}
    elif job == "sssp":
        from pyspark.sql import functions as F

        from gminer_spark.graph.sssp import shortest_paths
        from gminer_spark.graph.tables import vertices

        edges = spark.read.parquet(path).persist()
        n_items = edges.count()
        srcs = vertices(edges).where(F.col("id") % 9973 == 0).localCheckpoint()
        shortest_paths(edges, srcs)  # warm-up
        secs = []
        reached = 0
        for _ in range(REPS):
            t0 = time.time()
            res = shortest_paths(edges, srcs)
            reached = res.state.count()
            secs.append(time.time() - t0)
        sec = min(secs)
        throughput = n_items / sec
        extra = {"reached": reached, "reps_sec": [round(s, 1) for s in secs]}
    elif job == "tc_kernel":
        from gminer_spark.graph.triangles import triangle_count_kernel

        edges = spark.read.parquet(path).persist()
        n_items = edges.count()
        triangle_count_kernel(edges)  # warm-up (python workers + JIT)
        secs = []
        n_tri = 0
        for _ in range(REPS):
            t0 = time.time()
            n_tri = triangle_count_kernel(edges)
            secs.append(time.time() - t0)
        sec = min(secs)
        throughput = n_items / sec
        extra = {"triangles": n_tri, "reps_sec": [round(s, 1) for s in secs]}
    elif job == "coreness":
        # fixed round count (num_iter) so both parallelism levels do
        # IDENTICAL work — a fair throughput ratio without waiting for
        # the (round-count-identical anyway) fixpoint
        from gminer_spark.graph.kcore import coreness_hindex

        edges = spark.read.parquet(path).persist()
        n_items = edges.count()
        coreness_hindex(edges, num_iter=2)  # warm-up
        secs = []
        chk = 0
        for _ in range(REPS):
            t0 = time.time()
            res = coreness_hindex(edges, num_iter=iters)
            chk = res.agg({"coreness": "sum"}).first()[0]
            secs.append(time.time() - t0)
        sec = min(secs)
        throughput = n_items * iters / sec
        extra = {"coreness_sum": int(chk), "reps_sec": [round(s, 1) for s in secs]}
    elif job == "betweenness":
        from pyspark.sql import functions as F

        from gminer_spark.graph.betweenness import betweenness_sampled
        from gminer_spark.graph.tables import vertices

        edges = spark.read.parquet(path).persist()
        n_items = edges.count()
        srcs = vertices(edges).where(F.col("id") % 9973 == 0).localCheckpoint()
        n_src = srcs.count()
        betweenness_sampled(edges, srcs, max_depth=2).count()  # warm-up
        secs = []
        rows = 0
        for _ in range(REPS):
            t0 = time.time()
            rows = betweenness_sampled(edges, srcs, max_depth=3).count()
            secs.append(time.time() - t0)
        sec = min(secs)
        throughput = n_items * n_src / sec  # source-edge products per sec
        extra = {
            "n_sources": n_src,
            "rows": rows,
            "reps_sec": [round(s, 1) for s in secs],
        }
    elif job == "focusco":
        # weighted task-parallel engine over the PULL path: weights are
        # md5-derived integers, the graph stays above the full-graph
        # broadcast gate, so the measured loop is the batched
        # pull/kernel round trip that runs on a cluster
        from pyspark.sql import functions as F

        from gminer_spark.functions import h32
        from gminer_spark.graph.focusco import FocusCOParams, focused_clusters

        edges = spark.read.parquet(path)
        wedges = edges.select(
            "src",
            "dst",
            (h32(F.concat_ws(":", "src", "dst")) % 9 + 1)
            .cast("double")
            .alias("weight"),
        ).persist()
        n_items = wedges.count()
        seeds = [
            int(r["src"])
            for r in wedges.select("src")
            .distinct()
            .where(F.col("src") % 9973 == 0)
            .collect()
        ]
        p = FocusCOParams(
            min_weight=8.0,
            min_core_size=4,
            min_result_size=3,
            diff_ratio=0.05,
            iter_round_max=2,
            cand_max_time=3.0,
        )
        kw = dict(
            seeds=seeds,
            max_spark_rounds=30,
            full_graph_entries=0,
            # straggler ball-broadcast A/B (default ON, the shipped default)
            tail_broadcast=0
            if os.environ.get("FOCUSCO_TAILB", "1") == "0"
            else 64,
        )
        focused_clusters(wedges, p, **kw).count()  # warm-up
        secs = []
        rows = 0
        for _ in range(REPS):
            t0 = time.time()
            rows = focused_clusters(wedges, p, **kw).count()
            secs.append(time.time() - t0)
        sec = min(secs)
        throughput = n_items / sec
        extra = {
            "n_seeds": len(seeds),
            "clusters": rows,
            "reps_sec": [round(s, 1) for s in secs],
        }
    elif job == "hits":
        from gminer_spark.graph.hits import hits

        edges = spark.read.parquet(path)
        n_items = edges.count()
        hits(edges, num_iter=1)  # warm-up
        secs = []
        for _ in range(REPS):
            t0 = time.time()
            hits(edges, num_iter=iters)
            secs.append(time.time() - t0)
        sec = min(secs)
        throughput = n_items * iters / sec
        extra = {"reps_sec": [round(s, 1) for s in secs]}
    elif job == "node2vec":
        # the training-corpus hot path: one adjacency join + one
        # edge-existence join per step; iters = walk_len
        from pyspark.sql import functions as F

        from gminer_spark.graph.walks import random_walks_node2vec

        edges = spark.read.parquet(path)
        n_items = edges.count()
        starts = (
            edges.select(F.col("src").alias("id"))
            .distinct()
            .where(F.col("id") % 7 == 0)
        ).localCheckpoint()
        kw = dict(ret_bias=4, in_bias=2, out_bias=1, starts=starts)
        random_walks_node2vec(edges, walk_len=2, **kw).count()  # warm-up
        secs = []
        rows = 0
        for _ in range(REPS):
            t0 = time.time()
            rows = random_walks_node2vec(edges, walk_len=iters, **kw).count()
            secs.append(time.time() - t0)
        sec = min(secs)
        throughput = n_items * iters / sec
        extra = {"walks": rows, "reps_sec": [round(s, 1) for s in secs]}
    elif job == "scc":
        # full FW-BW-Trim decomposition on the directed skewed graph —
        # audits the pivot/coloring batching at 10M edges.  REPS=2:
        # the job is minutes-long and the trim/coloring round counts
        # are partitioning-independent, so two warm draws bound noise.
        from gminer_spark.graph.scc import strongly_connected_components

        edges = spark.read.parquet(path).persist()
        n_items = edges.count()
        # warm-up at full parallelism: one trim-ish pass over a slice
        strongly_connected_components(edges.limit(200_000))
        secs = []
        n_scc = 0
        for _ in range(2):
            t0 = time.time()
            res = strongly_connected_components(edges)
            n_scc = res.select("scc_id").distinct().count()
            secs.append(time.time() - t0)
        sec = min(secs)
        throughput = n_items / sec
        extra = {"n_scc": n_scc, "reps_sec": [round(s, 1) for s in secs]}
    elif job == "coreness_free":
        # free-running coreness (double-step rounds + tol auto-stop) —
        # the cluster-band measurement for the double-step h-index:
        # identical fixpoint at both parallelism levels, work measured
        # to convergence rather than a fixed round count.
        from gminer_spark.graph.kcore import coreness_hindex

        edges = spark.read.parquet(path).persist()
        n_items = edges.count()
        coreness_hindex(edges, num_iter=2)  # warm-up
        secs = []
        chk = 0
        for _ in range(2):
            t0 = time.time()
            res = coreness_hindex(edges)  # num_iter=None -> double-step
            chk = res.agg({"coreness": "sum"}).first()[0]
            secs.append(time.time() - t0)
        sec = min(secs)
        throughput = n_items / sec
        extra = {"coreness_sum": int(chk), "reps_sec": [round(s, 1) for s in secs]}
    elif job == "densest":
        # parallel densest-subgraph peel (thr_num=2: the O(log n)
        # 2(1+eps)-approx band) on the skewed 10M-edge graph — one
        # degree-agg + anti-join shuffle per round.  Peel trajectory
        # and best-prefix membership must be IDENTICAL at both
        # parallelism levels (exact-integer thresholds).
        from pyspark.sql import functions as F

        from gminer_spark.graph.densest import densest_subgraph

        edges = spark.read.parquet(path).persist()
        n_items = edges.count()
        densest_subgraph(edges.limit(200_000))  # warm-up
        secs, chk = [], None
        for _ in range(2):
            t0 = time.time()
            res = densest_subgraph(edges, thr_num=2)
            chk = res.agg(
                F.sum(F.col("in_densest").cast("long")),
                F.sum("removal_round"),
                F.max("removal_round"),
            ).first()
            secs.append(time.time() - t0)
        sec = min(secs)
        throughput = n_items / sec
        extra = {
            "n_in_densest": int(chk[0]),
            "removal_round_sum": int(chk[1]),
            "peel_rounds": int(chk[2]),
            "reps_sec": [round(s, 1) for s in secs],
        }
    elif job == "louvain":
        # 4 parity-activated modularity-move rounds on the skewed
        # 10M-edge graph.  Community count and label sum must be
        # IDENTICAL at both parallelism levels (exact-integer gains,
        # md5 activation coin — partitioning-independent).
        from pyspark.sql import functions as F

        from gminer_spark.graph.louvain import louvain_moves

        edges = spark.read.parquet(path).persist()
        n_items = edges.count()
        louvain_moves(edges.limit(200_000), num_rounds=1)  # warm-up
        secs, chk = [], None
        for _ in range(2):
            t0 = time.time()
            res = louvain_moves(edges, num_rounds=4)
            chk = res.agg(
                F.countDistinct("community"), F.sum("community")
            ).first()
            secs.append(time.time() - t0)
        sec = min(secs)
        throughput = n_items / sec
        extra = {
            "n_communities": int(chk[0]),
            "label_sum": int(chk[1]),
            "reps_sec": [round(s, 1) for s in secs],
        }
    elif job == "msf":
        # Boruvka minimum spanning forest on the skewed 10M-edge graph
        # (weights = h32(src:dst) % 100 + 1 — deterministic, diverse).
        # Forest edge count and total weight must be IDENTICAL at both
        # parallelism levels (the (w,src,dst) total order makes the
        # forest unique).
        from pyspark.sql import functions as F

        from gminer_spark.functions import h32
        from gminer_spark.graph.msf import minimum_spanning_forest

        edges = (
            spark.read.parquet(path)
            .select(
                "src",
                "dst",
                (
                    h32(F.concat_ws(":", "src", "dst")) % 100 + 1
                ).alias("w"),
            )
            .persist()
        )
        n_items = edges.count()
        minimum_spanning_forest(edges.limit(200_000))  # warm-up
        secs, chk = [], None
        for _ in range(2):
            t0 = time.time()
            res = minimum_spanning_forest(edges)
            chk = res.agg(
                F.count("*"), F.sum("w"), F.max("round")
            ).first()
            secs.append(time.time() - t0)
        sec = min(secs)
        throughput = n_items / sec
        extra = {
            "forest_edges": int(chk[0]),
            "forest_weight": int(chk[1]),
            "boruvka_rounds": int(chk[2]) + 1,
            "reps_sec": [round(s, 1) for s in secs],
        }
    elif job in ("coloring", "matching", "trussness"):
        # the 10M-edge BOUNDED-DEGREE band (r4 verdict #6): lattice +
        # hash long-range edges (gen_sparse_edges in scaling_bench.py)
        # — the realistic input for these three (conflict/scheduling
        # graphs are sparse; JP and greedy matching degenerate on
        # near-cliques, and trussness' one-time triangle table on the
        # skewed fixture is ~triangle-dense).  Result invariants
        # (color histogram / matching size / trussness sum) must be
        # IDENTICAL at both parallelism levels.
        from pyspark.sql import functions as F

        edges = spark.read.parquet(path).persist()
        n_items = edges.count()
        if job == "coloring":
            from gminer_spark.graph.coloring import greedy_coloring

            greedy_coloring(edges.limit(300_000))  # warm-up
            secs, chk = [], 0
            for _ in range(2):
                t0 = time.time()
                res = greedy_coloring(edges)
                chk = res.agg(
                    F.sum("color"), F.max("color"), F.count("*")
                ).first()
                secs.append(time.time() - t0)
            extra = {"color_sum": int(chk[0]), "n_colors": int(chk[1]) + 1,
                     "n_vertices": int(chk[2])}
        elif job == "matching":
            from gminer_spark.graph.matching import maximal_matching

            maximal_matching(edges.limit(300_000))  # warm-up
            secs, chk = [], 0
            for _ in range(2):
                t0 = time.time()
                res = maximal_matching(edges)
                chk = res.agg(
                    F.count("*"), F.sum(F.col("src") + F.col("dst"))
                ).first()
                secs.append(time.time() - t0)
            extra = {"matched_edges": int(chk[0]), "endpoint_sum": int(chk[1])}
        else:
            from gminer_spark.graph.trussness import trussness

            trussness(edges.limit(300_000), num_iter=1)  # warm-up
            secs, chk = [], 0
            for _ in range(2):
                t0 = time.time()
                res = trussness(edges)
                chk = res.agg(
                    F.sum("trussness"), F.max("trussness"), F.count("*")
                ).first()
                secs.append(time.time() - t0)
            extra = {"trussness_sum": int(chk[0]), "max_trussness": int(chk[1]),
                     "n_edges_canon": int(chk[2])}
        sec = min(secs)
        throughput = n_items / sec
        extra["reps_sec"] = [round(s, 1) for s in secs]
    else:
        raise SystemExit(f"unknown job {job}")

    spark.stop()
    print(
        json.dumps(
            {
                "job": job,
                "cores": cores,
                "n_items": n_items,
                "iters": iters,
                "sec": round(sec, 3),
                "items_per_sec": round(throughput, 1),
                **extra,
            }
        )
    )


if __name__ == "__main__":
    main()
