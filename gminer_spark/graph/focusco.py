"""Focused community search — the reference's GC/FocusCO app at parity.

Reference: /root/reference/apps/focusCO.cpp.  One task per seed vertex
(create_task, :497-524): the seed plus its edges of weight >=
MIN_WEIGHT form the initial core (gated at MIN_CORE_SIZE).  Each
compute round then either

* **expands** — score every candidate by the weighted-conductance
  delta AND the structural-conductance delta of adding it
  (expand_once, :421-452); admit the best weight-improver, and mark
  the best struct-improver an *outlier* (structurally attached but
  weight-dissimilar, :214-215); insignificant improvement
  (is_sim_weight, :24-27) admits nothing — or
* **contracts** — repeatedly evict any member whose removal does not
  raise weighted conductance (contract, :454-489), dropping evicted
  members from the outlier set (BSN <- BSN \\ Cluster, :300-302),

looping macro-iterations while the round-over-round phi improvement
stays significant and iter_round < ITER_ROUND_MAX (:318-325).  The
final cluster is kept when it reaches MIN_RESULT_SIZE (:326-342) and
results are deduplicated by cluster, CountAgg-style (:125-155).

Spark-first task parallelism: ALL seed tasks advance together.  Task
state is a small DataFrame (one row per live task); every Spark round
pulls the adjacency lists of each task's (subgraph ∪ candidates) with
ONE shuffle join against the id-partitioned adjacency table — the
re-expression of GMiner's batched task->pull()
(/root/reference/core/slave.tpp:307-401) — and an Arrow-batched
``mapInPandas`` kernel executes one in-memory compute round per task.
Finished tasks leave the loop, so the join shrinks as tasks converge.
Conductance arithmetic inside a round is incremental (O(deg) per
candidate, not O(vol(subG)) — the reference recomputes get_phi from
scratch per candidate, :430-431, which the incremental form equals
exactly).

Determinism (the reference is hash-iteration-order dependent; we
pin every order so results are identical under any partitioning):

* candidate ranking for the top-K cut uses (max positive edge weight
  into the subgraph, then ascending id) — the reference ranks by the
  first-encountered edge's weight in hash order (:226-246);
* expand_once scans candidates in ascending id with strict-< updates
  (first/lowest id wins ties, :427-451 scans hash order);
* contraction scans members in ascending id per pass (:457-461 scans
  a hash_set snapshot);
* duplicate weighted edges collapse to their max weight.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gminer_spark.graph.tables import plan_barrier, shuffle_partitions


@dataclass(frozen=True)
class FocusCOParams:
    """The reference's six tunables, same names and defaults
    (focusCO.cpp:16-21, argv overrides :601-616)."""

    min_weight: float = 1.0
    min_core_size: int = 10
    min_result_size: int = 0
    diff_ratio: float = 0.01
    iter_round_max: int = 10
    cand_max_time: float = 20.0


# ---------------------------------------------------------------------------
# in-memory round arithmetic (exact incremental forms of get_phi deltas)
# ---------------------------------------------------------------------------


def _is_sim_weight(pos_l_a: float, pos_g_b: float, diff_ratio: float) -> bool:
    """focusCO.cpp:24-27.  C++ divides by zero into inf/nan, both of
    which compare false against (ratio+1); replicate that branch."""
    if pos_l_a == 0:
        return False
    return (pos_g_b / pos_l_a) <= (diff_ratio + 1.0)


def _cut_vol(subg: set, adj: dict, use_weight: bool) -> tuple[float, float]:
    """(wCut, wVol) of get_phi (focusCO.cpp:382-411): cut counts every
    subG->outside adjacency entry once, volume counts internal edges
    once (id< order); negative weights are illegal and skipped."""
    wcut = 0.0
    wvol = 0.0
    for u in subg:
        for nb, w in adj.get(u, ()):
            if w < 0:
                continue
            x = w if use_weight else 1.0
            if nb not in subg:
                wcut += x
            elif u < nb:
                wvol += x
    return wcut, wvol


def _top_candidates(subg: set, adj: dict, limit: float) -> list[int]:
    """Rebuild the candidate map: neighbors of subG outside subG with a
    positive-weight edge, truncated to the top ``limit`` by weight
    (focusCO.cpp:224-257 / 277-314 / 347-376).  Deterministic ranking:
    max positive edge weight into subG desc, then id asc."""
    best: dict[int, float] = {}
    for u in subg:
        for nb, w in adj.get(u, ()):
            if nb not in subg and w > 0 and w > best.get(nb, float("-inf")):
                best[nb] = w
    ranked = sorted(best.items(), key=lambda kv: (-kv[1], kv[0]))
    k = int(limit)
    if len(ranked) > k:
        ranked = ranked[:k]
    return [c for c, _ in ranked]


def _attach(vertex: int, subg: set, adj: dict) -> tuple[float, float, int, int]:
    """(weight-into-subG, weight-outside, count-into, count-outside)
    of one vertex's legal (w>=0) adjacency, vertex itself excluded."""
    aw = bw = 0.0
    ac = bc = 0
    for nb, w in adj.get(vertex, ()):
        if w < 0 or nb == vertex:
            continue
        if nb in subg:
            aw += w
            ac += 1
        else:
            bw += w
            bc += 1
    return aw, bw, ac, bc


def _expand_once(
    subg: set,
    cand: Iterable[int],
    adj: dict,
    cur_w: float,
    cur_s: float,
    wcut_w: float,
    wvol_w: float,
    wcut_s: float,
    wvol_s: float,
) -> tuple[int, int, float]:
    """focusCO.cpp:421-452 via exact deltas: adding c moves its
    into-subG attachment a from cut to volume and adds its outside
    attachment b to the cut, for both the weighted and struct phis."""
    best_w_node = best_s_node = -1
    best_w_diff = 0.0
    best_s_diff = 0.0
    for c in sorted(cand):
        aw, bw, ac, bc = _attach(c, subg, adj)
        den_w = wvol_w + aw
        den_s = wvol_s + ac
        new_w = (wcut_w - aw + bw) / den_w if den_w != 0 else -1.0
        new_s = (wcut_s - ac + bc) / den_s if den_s != 0 else -1.0
        if new_w < 0 or new_s < 0:
            continue
        dw = new_w - cur_w
        ds = new_s - cur_s
        if dw < best_w_diff:
            best_w_diff = dw
            best_w_node = c
        if ds < best_s_diff:
            best_s_diff = ds
            best_s_node = c
    return best_w_node, best_s_node, best_w_diff


def _contract(
    subg: set, cur_w: float, wcut: float, wvol: float, adj: dict
) -> tuple[list[int], float, float, float]:
    """focusCO.cpp:454-489: evict members whose removal does not raise
    weighted phi, repeating passes until one removes nothing.  Removing
    x turns its internal attachment a into cut and drops its outside
    attachment b from the cut."""
    deleted: list[int] = []
    while True:
        removed = False
        for x in sorted(subg):
            aw, bw, _, _ = _attach(x, subg, adj)
            new_wvol = wvol - aw
            if new_wvol == 0:  # phi would be -1: illegal, keep x (:467-471)
                continue
            new_wcut = wcut - bw + aw
            new_phi = new_wcut / new_wvol
            if new_phi - cur_w <= 0:
                subg.discard(x)
                deleted.append(x)
                cur_w, wcut, wvol = new_phi, new_wcut, new_wvol
                removed = True
        if not removed:
            return deleted, cur_w, wcut, wvol


def _compute_round(task: dict, adj: dict, p: FocusCOParams) -> dict:
    """Exactly one FocusTask::compute call (focusCO.cpp:162-343).
    ``task`` carries the FocusContext; returns it advanced, with
    ``done``/``cluster``/``phi`` set when compute returns false."""
    task["comp_round"] += 1
    subg = set(task["subg"])

    def finish(cluster: list[int], outlier: list[int], phi: float) -> dict:
        task.update(done=True, cluster=cluster, outlier=outlier, phi=phi)
        task["subg"] = sorted(subg)
        return task

    if task["comp_round"] == 1:  # init_real_comp (:347-380)
        task["cand"] = _top_candidates(subg, adj, p.cand_max_time * len(subg))
        return task

    outlier = set(task["outlier"])
    wcut_w, wvol_w = _cut_vol(subg, adj, True)
    if wvol_w == 0:  # phi < 0: task dies empty (:188-195)
        return finish([], [], -1.0)
    cur_w = wcut_w / wvol_w
    if task["comp_round"] == 2:
        task["init_weight_phi"] = cur_w

    wcut_s, wvol_s = _cut_vol(subg, adj, False)
    cur_s = wcut_s / wvol_s if wvol_s != 0 else -1.0

    # ---- expansion (:203-263) ----
    best_w_node, best_s_node, best_w_diff = _expand_once(
        subg, task["cand"], adj, cur_w, cur_s, wcut_w, wvol_w, wcut_s, wvol_s
    )
    if _is_sim_weight(cur_w + best_w_diff, cur_w, p.diff_ratio):
        best_w_node = best_s_node = -1
    if best_s_node != -1:
        outlier.add(best_s_node)
    if best_w_node != -1:
        subg.add(best_w_node)
        task["subg"] = sorted(subg)
        task["cand"] = _top_candidates(subg, adj, p.cand_max_time * len(subg))
        task["outlier"] = sorted(outlier)
        return task

    # ---- contraction (:265-316) ----
    deleted, cur_w, wcut_w, wvol_w = _contract(subg, cur_w, wcut_w, wvol_w, adj)
    if deleted:
        task["cand"] = _top_candidates(subg, adj, p.cand_max_time * len(subg))
        outlier -= subg  # BSN <- BSN \ Cluster (:300-302)
    task["subg"] = sorted(subg)
    task["outlier"] = sorted(outlier)

    if (
        not _is_sim_weight(cur_w, task["init_weight_phi"], p.diff_ratio)
        and task["iter_round"] < p.iter_round_max
    ):  # another macro-iteration (:318-325)
        task["init_weight_phi"] = cur_w
        task["iter_round"] += 1
        return task
    if len(subg) >= p.min_result_size:  # (:326-342)
        return finish(sorted(subg), sorted(outlier), cur_w)
    return finish([], [], cur_w)


# ---------------------------------------------------------------------------
# distributed driver
# ---------------------------------------------------------------------------

_STATE_SCHEMA = (
    "task_id long, subg array<long>, cand array<long>, outlier array<long>, "
    "comp_round int, iter_round int, init_weight_phi double, "
    "done boolean, cluster array<long>, phi double"
)

_STATE_COLS = [f.split(" ")[0] for f in _STATE_SCHEMA.split(", ")]


def weighted_adjacency(wedges: DataFrame) -> DataFrame:
    """(id, adj: array<struct<nb:long, w:double>>) — the undirected
    weighted adjacency table, duplicate edges collapsed to max weight,
    self-loops dropped, hash-partitioned by id so the per-round pull
    join shuffles only the (small) request side."""
    spark = wedges.sparkSession
    base = wedges.select(
        F.col("src").cast("long"),
        F.col("dst").cast("long"),
        F.col("weight").cast("double"),
    )
    sym = (
        base.unionByName(
            base.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
            )
        )
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.max("weight").alias("w"))
    )
    return (
        sym.groupBy(F.col("src").alias("id"))
        .agg(
            F.collect_list(
                F.struct(F.col("dst").alias("nb"), F.col("w"))
            ).alias("adj")
        )
        .repartition(shuffle_partitions(spark), "id")
    )


def _collect_adj_dict(adj: DataFrame) -> dict:
    """Collect an (id, adj) adjacency table to a ``{id: [(nb, w)]}``
    dict via the ARROW driver path (r6): ``collect()`` materializes
    one Row + one struct object per adjacency ENTRY (~1M objects at
    sf0.1 — several driver-bound seconds), where a flat explode +
    ``toPandas`` crosses as three numeric Arrow columns and the dict
    is rebuilt with numpy slicing.  Entry order within a vertex is
    preserved (stable sort), not that the kernel depends on it —
    collect_list order was already partition-dependent."""
    import numpy as np

    flat = adj.select(F.col("id"), F.explode("adj").alias("e")).select(
        "id", F.col("e.nb").alias("nb"), F.col("e.w").alias("w")
    )
    pdf = flat.toPandas()
    if len(pdf) == 0:
        return {}
    ids = pdf["id"].to_numpy()
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    nbs = pdf["nb"].to_numpy()[order].tolist()
    ws = pdf["w"].to_numpy()[order].tolist()
    uniq, starts = np.unique(ids, return_index=True)
    bounds = list(starts) + [len(ids)]
    return {
        int(uniq[i]): list(zip(nbs[bounds[i] : bounds[i + 1]], ws[bounds[i] : bounds[i + 1]]))
        for i in range(len(uniq))
    }


def _kernel(p: FocusCOParams, badj=None):
    """Per-task compute kernel.  ``badj`` (optional Spark broadcast of
    the COMPLETE adjacency dict) switches pulls off entirely: the
    elision loop's coverage test is then always true, so every task
    runs to completion in its first kernel call — one Spark round for
    the whole job (the gated small-graph fast path)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        full_adj = badj.value if badj is not None else None
        for pdf in batches:
            out = []
            for _, r in pdf.iterrows():
                if full_adj is not None:
                    adj = full_adj
                else:
                    # Arrow hands array columns to pandas as numpy
                    # arrays, whose truth value is ambiguous —
                    # None-check explicitly
                    adj = {}
                    nbhd = r["nbhd"] if r["nbhd"] is not None else ()
                    for v in nbhd:
                        adj[int(v["vid"])] = [
                            (int(e["nb"]), float(e["w"]))
                            for e in (v["adj"] if v["adj"] is not None else ())
                        ]
                task = {
                    "task_id": int(r["task_id"]),
                    "subg": [int(x) for x in r["subg"]],
                    "cand": [int(x) for x in r["cand"]],
                    "outlier": [int(x) for x in r["outlier"]],
                    "comp_round": int(r["comp_round"]),
                    "iter_round": int(r["iter_round"]),
                    "init_weight_phi": float(r["init_weight_phi"]),
                    "done": False,
                    "cluster": [],
                    "phi": 0.0,
                }
                task = _compute_round(task, adj, p)
                # pull elision: a pull fetches FULL adjacency rows, so
                # while the next round's needed set is already covered
                # we can keep computing in-memory — same rounds, same
                # data, minus the Spark round trip (typical win:
                # contraction + termination rounds collapse into the
                # last expansion's round)
                while (
                    not task["done"]
                    and set(task["subg"]).union(task["cand"]) <= adj.keys()
                ):
                    task = _compute_round(task, adj, p)
                out.append(task)
            yield pd.DataFrame(out, columns=_STATE_COLS)

    return run


def focused_clusters(
    wedges: DataFrame,
    params: FocusCOParams | None = None,
    seeds: list[int] | None = None,
    max_spark_rounds: int = 200,
    task_batch_size: int | None = 512,
    full_graph_entries: int = 2_000_000,
    tail_broadcast: int = 64,
    tail_entries: int = 2_000_000,
) -> DataFrame:
    """All-seeds focused clustering -> (cluster, outlier, phi) rows.

    ``wedges``: (src, dst, weight) undirected weighted edges.  One task
    per vertex passing the create_task gate (focusCO.cpp:497-524), or
    per explicit seed; every Spark round advances every live task one
    compute round.  Results carry the reference CountAgg semantics:
    empty clusters dropped (:132-137), deduplicated by cluster
    (co_map key, :97); the outlier set and phi of duplicate clusters
    tie-break to the minimum for determinism.  Tasks still live after
    ``max_spark_rounds`` are dropped (the reference has no such cap;
    the default is far above any observed convergence).

    ``task_batch_size`` bounds the tasks IN FLIGHT at once — the
    analog of the reference's disk-backed task queue draining in
    batches (core/priority_queue.tpp:21-57, PIPE_POP_NUM batching):
    a pull round's memory is Σ_live |subg ∪ cand| × avg-degree rows,
    so running every seed simultaneously melts the heap on dense
    graphs; excess tasks wait in later batches (md5-hash assignment,
    deterministic, and independent tasks make batching result-
    invariant).  ``None`` runs everything at once.

    STRAGGLER BALL BROADCAST (r4 verdict task #3 — round fusion): the
    pull loop is round-trip bound (BENCH.md 0.34 row) because an
    expansion admit surfaces candidates whose adjacency is unheld, so
    each Spark round advances a straggler by ~one admit, and a handful
    of long-running tasks dictate the round count.  When
    ``n_live <= tail_broadcast`` AND the union of the live tasks'
    radius-2 ball adjacency fits ``tail_entries`` (the same memory
    reasoning as the full-graph gate), the ball is collected once,
    broadcast, and every straggler runs the exact elision loop inside
    it to completion — zero pull round trips while a task stays in its
    ball; an escapee stays live and re-enters the loop (possibly into
    another, recentered ball round).  Results are bit-identical:
    compute reads adjacency only for subg/cand members (always inside
    the radius-2 ball until an admit moves the frontier, which the
    exact coverage test catches).  A plain radius-2 per-task pull
    prefetch was A/B'd first and measured NEGATIVE locally (rounds
    18 → 12 but 16-core time 20.0 → 22.9 s — the extra pull volume
    outweighs saved round trips on tmpfs shuffle); the ball broadcast
    pays the 2-hop bytes ONCE instead of per round.
    ``tail_broadcast=0`` disables."""
    p = params or FocusCOParams()
    adj = weighted_adjacency(wedges).persist()

    heavy = F.filter("adj", lambda x: x["w"] >= F.lit(float(p.min_weight)))
    state = (
        adj.select(
            F.col("id").alias("task_id"),
            F.sort_array(
                F.array_union(
                    F.array(F.col("id")),
                    F.transform(heavy, lambda x: x["nb"]),
                )
            ).alias("subg"),
        )
        .where(F.size("subg") >= int(p.min_core_size))
        .select(
            "task_id",
            "subg",
            F.array().cast("array<long>").alias("cand"),
            F.array().cast("array<long>").alias("outlier"),
            F.lit(0).alias("comp_round"),
            F.lit(0).alias("iter_round"),
            F.lit(0.0).alias("init_weight_phi"),
            F.lit(False).alias("done"),
            F.array().cast("array<long>").alias("cluster"),
            F.lit(0.0).alias("phi"),
        )
    )
    if seeds is not None:
        state = state.where(F.col("task_id").isin([int(s) for s in seeds]))
    state = state.localCheckpoint()

    from gminer_spark.functions import h32

    spark = wedges.sparkSession
    n_tasks = state.count()

    # Small-graph fast path: when the WHOLE adjacency fits under the
    # broadcast gate (entries = 2|E| weighted pairs), ship it to every
    # kernel as one Spark broadcast and let the pull-elision loop run
    # every task to completion in its first kernel call — ONE Spark
    # round instead of one per straggler pull round (measured at
    # sf0.1: 26s -> ~8s engine time for the 64-seed contract job).
    # This is the reference worker's hot-cache steady state
    # (core/ref_cache.hpp) taken to its gated limit; larger graphs
    # keep the generic batched pull loop below, same kernel code,
    # bit-identical results (parity test).
    if full_graph_entries and n_tasks > 0:
        n_entries = adj.select(F.sum(F.size("adj"))).first()[0] or 0
        if n_entries <= full_graph_entries:
            badj = spark.sparkContext.broadcast(_collect_adj_dict(adj))
            res = (
                state.drop("done", "cluster", "phi")
                .repartition(int(min(n_tasks, 4096)), "task_id")
                .mapInPandas(_kernel(p, badj), _STATE_SCHEMA)
                .where(F.col("done"))
                .where(F.size("cluster") > 0)
                .groupBy("cluster")
                .agg(F.min("outlier").alias("outlier"), F.min("phi").alias("phi"))
            )
            res = res.localCheckpoint()
            adj.unpersist()
            badj.unpersist()
            return res

    if task_batch_size is None or n_tasks <= task_batch_size:
        n_batches = 1
    else:
        n_batches = -(-n_tasks // task_batch_size)

    result_schema = "cluster array<long>, outlier array<long>, phi double"
    done_parts: list[DataFrame] = []
    for b in range(n_batches):
        if n_batches == 1:
            live = state
        else:
            live = state.where(
                F.pmod(h32(F.col("task_id").cast("string")), F.lit(n_batches))
                == b
            ).localCheckpoint()
        n_live = live.count()
        global last_spark_rounds
        last_spark_rounds = 0
        # Ball-probe cooldown: a failed entries gate at n_live=X means
        # the stragglers sit near hubs whose radius-2 ball exceeds
        # tail_entries — re-probing every round just adds actions to a
        # round-trip-bound loop.  Don't probe again until the live set
        # halves (O(log seeds) probes total instead of O(rounds)).
        ball_retry_below = tail_broadcast
        # ONE action per round: the live-count below materializes the
        # lazy plan_barrier (origin-free leaf — the round plan
        # references the state several times: needed + join + both
        # done/live filters) and doubles as the termination signal —
        # the pull loop is round-trip bound, so halving the per-round
        # job count is the direct lever (BENCH.md focusco 0.34 row).
        for _ in range(max_spark_rounds):
            if n_live == 0:
                break
            last_spark_rounds += 1
            needed = live.select(
                "task_id", F.explode(F.array_union("subg", "cand")).alias("id")
            )
            if tail_broadcast and n_live <= min(tail_broadcast, ball_retry_below):
                # STRAGGLER BALL BROADCAST: collect the union of the
                # live tasks' radius-2 ball adjacency ONCE (under the
                # same entries gate as the full-graph fast path),
                # broadcast it, and let the exact elision loop run each
                # straggler to completion — zero further pull round
                # trips for tasks that stay inside their ball; escapees
                # simply stay live and re-enter the loop
                ids1 = needed.select("id").distinct()
                rows1 = adj.join(ids1, on="id", how="left_semi")
                # Radius-1 entries lower-bound the radius-2 ball: when
                # even these exceed the gate, skip the second semi-join
                # + count entirely (one cheap action instead of two
                # heavier ones on the guaranteed-fail path).
                n_r1 = rows1.select(F.sum(F.size("adj"))).first()[0] or 0
                if n_r1 > tail_entries:
                    ball_retry_below = n_live // 2
                    n_entries = tail_entries + 1
                else:
                    ball_ids = (
                        rows1.select(F.explode("adj.nb").alias("id"))
                        .unionByName(ids1)
                        .distinct()
                    )
                    ball = adj.join(ball_ids, on="id", how="left_semi")
                    n_entries = (
                        ball.select(F.sum(F.size("adj"))).first()[0] or 0
                    )
                    if n_entries > tail_entries:
                        ball_retry_below = n_live // 2
                if n_entries <= tail_entries:
                    badj_b = spark.sparkContext.broadcast(
                        _collect_adj_dict(ball)
                    )
                    new_state = plan_barrier(
                        live.drop("done", "cluster", "phi")
                        .repartition(int(min(n_live, 4096)), "task_id")
                        .mapInPandas(_kernel(p, badj_b), _STATE_SCHEMA),
                        eager=False,
                    )
                    done_parts.append(new_state.where(F.col("done")))
                    live = new_state.where(~F.col("done"))
                    n_live = live.count()
                    badj_b.unpersist()
                    continue
            pulled = (
                needed.join(adj, on="id")
                .groupBy("task_id")
                .agg(
                    F.collect_list(
                        F.struct(F.col("id").alias("vid"), F.col("adj"))
                    ).alias("nbhd")
                )
            )
            new_state = plan_barrier(
                live.drop("done", "cluster", "phi")
                .join(pulled, on="task_id")
                .mapInPandas(_kernel(p), _STATE_SCHEMA),
                eager=False,
            )
            done_parts.append(new_state.where(F.col("done")))
            live = new_state.where(~F.col("done"))
            n_live = live.count()

    adj.unpersist()
    if not done_parts:
        return spark.createDataFrame([], result_schema)
    allres = done_parts[0]
    for part in done_parts[1:]:
        allres = allres.unionByName(part)
    return (
        allres.where(F.size("cluster") > 0)
        .groupBy("cluster")
        .agg(F.min("outlier").alias("outlier"), F.min("phi").alias("phi"))
    )
