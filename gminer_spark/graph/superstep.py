"""Driver-side superstep loop — the BSP engine re-expressed on Spark.

The reference's BSP loop (/root/reference/partition/BPartitioner.tpp:361-424
for Voronoi, :104-161 for hash-min) is:

    while all_sum(active) > 0 or has_msg:
        active_compute()       # per-vertex compute over incoming messages
        sync_messages()        # route msgs by hash(dst) % n, all_to_all
        barrier

Our equivalents: ``step_fn(state) -> (new_state, step_metrics)`` where
the message shuffle is the ``groupBy(dst)`` inside the step, the
combiner (/root/reference/util/vecs.tpp:79-107) is Spark's partial
aggregation, the MPI allreduce termination test
(/root/reference/util/communication.hpp:20-30) is a driver-side
``agg().collect()``, and the per-superstep barrier is the action that
materializes the checkpoint.

Lineage is truncated every superstep (checkpoint write + re-read, or
``localCheckpoint`` when no store is given) — otherwise the iterative
plan nests one join per iteration and Catalyst analysis time blows up.

:func:`fixpoint` is the step adapter for the common vote-to-halt
round — "update the state, count the vertices that changed, stop at
zero" — and enforces the rules that make that round one Spark action
(one job per stage under AQE):

* the step's output crosses a lazy :func:`tables.plan_barrier`, an
  origin-free leaf, so a round plan may reference its state any number
  of times without the Spark-4 ``localCheckpoint`` origin chain
  doubling per round;
* the changed-count is the round's single action: it materializes the
  barrier as it scans, so no second job re-encodes the state;
* the round reports ``_checkpointed`` so :func:`run_supersteps` does
  not checkpoint the leaf again, and the init is checkpointed once.

Callers keep their own cap warning and gate it on ``not converged``.

:func:`peel` is the round of the other common loop — "remove rows until
none go" (k-core, k-truss, bitruss, matching, colouring, MIS, the SCC
trim).  The state is a set that each round shrinks, so its row count is
the whole convergence signal: a round is the lazy barrier plus one
``count()``, and the loop stops when that count reaches 0 or stays
where it was.  Rows a round decides (MIS winners, new colours, matched
edges) stay lazy leaves in the caller: the next state is derived from
them, so the round's count materializes them, and the caller unions
them once at the end.

:func:`grow` is the third round — "add rows until none come" (the
multi-source BFS levels of betweenness and its siblings, directed
reachability, k-center's bounded BFS, the SCC backward sweep).  The
state is a list of levels; a round expands the last one, anti-joins
the candidates against every earlier level on a key, and keeps the
rest as the next level behind the lazy barrier, whose ``count()`` is
both the round's one action and the stop test (0 rows: done).  Each
level is read again by every later round's anti-join and by the
caller, so it is multi-ref state like ``fixpoint``'s and ``peel``'s.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import Column, DataFrame

from gminer_spark.checkpoint import CheckpointStore
from gminer_spark.graph import tables

StepFn = Callable[[DataFrame, int], tuple[DataFrame, dict[str, Any]]]
ConvergedFn = Callable[[dict[str, Any]], bool]


@dataclass
class SuperstepResult:
    state: DataFrame
    supersteps_run: int
    last_superstep: int
    converged: bool
    history: list[dict[str, Any]] = field(default_factory=list)


def run_supersteps(
    init_state: DataFrame,
    step_fn: StepFn,
    converged_fn: ConvergedFn,
    max_iter: int = 100,
    store: CheckpointStore | None = None,
    resume: bool = True,
) -> SuperstepResult:
    """Run the BSP loop to convergence.

    ``step_fn(state, superstep)`` returns the next state plus a metrics
    dict (must include whatever ``converged_fn`` inspects; by
    convention: ``edges_scanned``, ``messages_shuffled``, ``delta``).
    ``converged_fn(metrics)`` is the vote-to-halt analog
    (/root/reference/partition/BVertex.tpp:56-66): True ends the loop.

    With a ``store``, superstep 0 commits the initial state and each
    iteration commits before the convergence test — so a kill at any
    point resumes from the last committed superstep and converges to
    the identical fixpoint (hash-min / LPA / PageRank updates are
    idempotent given the committed state).
    """
    state = init_state
    start_step = 0
    history: list[dict[str, Any]] = []

    if store is not None:
        latest = store.latest() if resume else None
        if latest is not None:
            start_step, state, _ = latest
            if _is_final(store, start_step):
                return SuperstepResult(state, 0, start_step, True, history)
        else:
            state = store.commit(0, state, {"phase": "init"})
    else:
        state = state.localCheckpoint()

    converged = False
    k = start_step
    for k in range(start_step + 1, max_iter + 1):
        t0 = time.time()
        new_state, metrics = step_fn(state, k)
        metrics["superstep"] = k
        # a step_fn that already materialized its state (fused
        # barrier+signal rounds: cc/lpa/pagerank) sets _checkpointed —
        # re-checkpointing a leaf would re-encode the whole table for
        # nothing.  The flag is popped so store commits / history never
        # see it (checkpoint metrics schemas are append-merged).
        already = bool(metrics.pop("_checkpointed", False))
        if store is not None:
            state = store.commit(k, new_state, metrics)
        elif already:
            state = new_state
        else:
            state = new_state.localCheckpoint()
        metrics["wall_sec"] = time.time() - t0
        history.append(metrics)
        if converged_fn(metrics):
            converged = True
            if store is not None:
                _mark_final(store, k)
            break

    return SuperstepResult(state, len(history), k, converged, history)


def fixpoint(
    init: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    changed: Column,
    max_iter: int,
    store: CheckpointStore | None = None,
    resume: bool = True,
    metrics: dict[str, Any] | None = None,
) -> SuperstepResult:
    """Iterate ``step`` until no row of its output satisfies ``changed``.

    ``step(state, superstep)`` returns the next state LAZILY, carrying
    the column(s) the ``changed`` predicate reads; the state handed to
    the next round (and the result's ``state``) keeps them, so callers
    select their output columns at the end.  Each round is one Spark
    action: the ``where(changed).count()`` that also materializes the
    round's lazy barrier.  ``metrics`` are static per-round entries
    (e.g. ``edges_scanned``) merged ahead of ``delta`` / ``changed`` in
    the history and the store's lineage table.  The result is not
    ``converged`` when ``max_iter`` rounds ran with rows still changing.

    A constant-true ``changed`` (``F.lit(True)``) gives a fixed-round
    loop: exactly ``max_iter`` rounds (HITS, SALSA), each counting every
    row — the same job an eager ``plan_barrier`` runs.
    """

    def round_(state: DataFrame, k: int) -> tuple[DataFrame, dict[str, Any]]:
        new_state = tables.plan_barrier(step(state, k), eager=False)
        n = new_state.where(changed).count()
        return new_state, {
            **(metrics or {}),
            "delta": float(n),
            "changed": int(n),
            "_checkpointed": True,
        }

    return run_supersteps(
        init,
        round_,
        lambda m: m["changed"] == 0,
        max_iter=max_iter,
        store=store,
        resume=resume,
    )


def peel(
    init: DataFrame,
    n: int,
    step: Callable[[DataFrame, int], DataFrame],
    max_iter: int | None = None,
) -> tuple[DataFrame, int, bool]:
    """Shrink ``init`` (``n`` rows) with ``step`` -> ``(state, n, converged)``.

    ``step(state, n)`` returns the next state LAZILY as a subset of
    ``state`` (``n`` is its row count, e.g. for a broadcast gate).  Each
    round is one Spark action: the ``count()`` that also materializes
    the round's lazy :func:`tables.plan_barrier`, so the step may read
    its state any number of times.  The loop stops when the count is 0
    or equals the previous round's — a subset with as many rows is the
    same set, and a monotone peel is idempotent from there — or after
    ``max_iter`` rounds (None: no cap).  A state that starts empty runs
    no round.  ``converged`` is False only when the cap stopped the
    loop before a round reached 0 rows or removed none; callers keep
    their own cap warning and gate it on ``not converged``.
    """
    state, rounds = init, 0
    converged = n == 0
    while not converged and (max_iter is None or rounds < max_iter):
        state = tables.plan_barrier(step(state, n), eager=False)
        n_prev, n = n, state.count()
        rounds += 1
        converged = n in (0, n_prev)
    return state, n, converged


def grow(
    init: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    key: list[str],
    max_iter: int | None = None,
) -> tuple[list[DataFrame], int, bool]:
    """Grow ``init`` level by level with ``step`` -> ``(levels, n, converged)``.

    ``init`` is level 0, used as given.  ``step(level)`` returns the
    candidate rows of the next level LAZILY, distinct on ``key``; the
    round keeps those whose ``key`` no earlier level holds (an anti-join
    against the lazy union of all levels' ``key`` columns).  Each round
    is one Spark action: the ``count()`` that also materializes the
    round's lazy :func:`tables.plan_barrier` — every later round and
    the caller read each level again, so levels are origin-free leaves.
    The loop stops at a round that adds no row, or after ``max_iter``
    rounds (None: no cap).  ``n`` is the number of rows the rounds
    added; ``converged`` is False only when the cap stopped the loop
    before a round added nothing.
    """
    levels, n = [init], 0
    seen = init.select(*key)
    while max_iter is None or len(levels) <= max_iter:
        nxt = tables.plan_barrier(
            step(levels[-1]).join(seen, on=key, how="left_anti"), eager=False
        )
        added = nxt.count()
        if added == 0:
            return levels, n, True
        levels.append(nxt)
        seen = seen.unionByName(nxt.select(*key))
        n += added
    return levels, n, False


def _mark_final(store: CheckpointStore, superstep: int) -> None:
    manifest = store._read_manifest()
    manifest["final_superstep"] = superstep
    store._write_manifest(manifest)


def _is_final(store: CheckpointStore, superstep: int) -> bool:
    return store._read_manifest().get("final_superstep") == superstep
