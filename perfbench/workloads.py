"""The workloads: seeded inputs, set-up, timed operator list and
references.

Every operator is called through the engine's public functions and its
result is consumed inside the timed span (``collect``/``count``); the
rows it returns are checked against the reference afterwards.  Sizes
and shuffle partitions are fixed here, per workload, so that a warm
pass lasts a few seconds on 4 cores and a whole run (JVM start, three
set-ups, a warm-up pass and the timed passes) stays near a minute
(NOTES.md explains the budget).
"""

from __future__ import annotations

import importlib.util
import os
import shutil
from dataclasses import dataclass, field
from typing import Any, Callable


from perfbench import gen, refs

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@dataclass
class Ctx:
    """What the operators of one run share: the session, the seeded
    inputs, the tables built in set-up and the pass's own tables."""

    spark: Any
    data_dir: str
    work_dir: str
    tables: dict = field(default_factory=dict)
    pass_tables: dict = field(default_factory=dict)
    calls: int = 0


@dataclass
class Result:
    """``rows`` (or ``fetch()``, run after the timed span) is the output
    the reference check sees."""

    rows: list | None = None
    fetch: Callable[[], list] | None = None
    rounds: int | None = None
    store_dir: str | None = None


@dataclass(frozen=True)
class Op:
    name: str  # "<module>.<op>", the prefix of its per-layer metrics
    call: Callable[[Ctx], Result]
    python: bool = False  # report the Python-worker SQL metrics
    skew: bool = False  # report task skew of the widest stage
    extra: tuple[str, ...] = ()  # further counters reported for this op


@dataclass(frozen=True)
class Workload:
    name: str
    shuffle_partitions: int
    generate: Callable[[str, int], str]  # (cache dir, seed) -> data dir
    setup: Callable[[Ctx], int]  # reads inputs, builds tables; returns edge rows (or 0)
    ops: tuple[Op, ...]
    references: Callable[[str], dict[str, list]]  # data dir -> op name -> rows


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def _graph_oracle():
    path = os.path.join(ROOT, "tests", "oracle", "graph_oracle.py")
    spec = importlib.util.spec_from_file_location("graph_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _build_edges(ctx: Ctx, sf_dir: str) -> int:
    """Read ``lineitem`` and materialize the co-purchase edge table."""
    from gminer_spark.graph.tables import copurchase_edges

    edges = copurchase_edges(ctx.spark, sf_dir).persist()
    ctx.tables["edges"] = edges
    return edges.count()


# -- rounds_small --------------------------------------------------------

SMALL = dict(n_orders=3000, n_parts=600)
SMALL_ROUNDS = 2  # supersteps: enough to tell per-round from per-call cost


def _gen_small(cache: str, seed: int) -> str:
    tag = "x".join(str(v) for v in SMALL.values())
    return gen.sf_tables(os.path.join(cache, f"rounds_small-{tag}-s{seed}"), seed, **SMALL)


def _pagerank_store(ctx: Ctx) -> Result:
    from gminer_spark.checkpoint import CheckpointStore
    from gminer_spark.graph.pagerank import pagerank

    ctx.calls += 1
    base = os.path.join(ctx.work_dir, "stores", f"pagerank-{ctx.calls}")
    shutil.rmtree(base, ignore_errors=True)
    store = CheckpointStore(ctx.spark, base)
    res = pagerank(ctx.tables["edges"], num_iter=SMALL_ROUNDS, store=store)
    return Result(
        rows=_rows(res.state.select("id", "rank")),
        rounds=res.supersteps_run,
        store_dir=base,
    )


def _refs_small(data_dir: str) -> dict[str, list]:
    edges = refs.copurchase_edge_list(data_dir)
    ranks = _graph_oracle().pagerank(edges, num_iter=SMALL_ROUNDS)
    return {"graph.pagerank.pagerank_store": list(ranks.items())}


ROUNDS_SMALL = Workload(
    name="rounds_small",
    shuffle_partitions=4,
    generate=_gen_small,
    setup=lambda ctx: _build_edges(ctx, ctx.data_dir),
    ops=(
        Op("graph.pagerank.pagerank_store", _pagerank_store,
           extra=("rounds", "jobs_per_round")),
    ),
    references=_refs_small,
)


# -- gminer_apps --------------------------------------------------------
# GMiner's data-bound side: the link-graph spine (pages -> edges through
# the Arrow extraction kernel) feeding the TC app's wedge join on the
# hub-skewed web graph.

LINK_PAGES = 3000
LINK_M = 5


def _gen_apps(cache: str, seed: int) -> str:
    out = os.path.join(cache, f"gminer_apps-{LINK_PAGES}x{LINK_M}-s{seed}")
    return gen.link_pages(out, seed, LINK_PAGES, LINK_M)


def _setup_apps(ctx: Ctx) -> int:
    """Pages are read and spread over the cores; the web edge table is
    the first timed operator's output."""
    n = ctx.spark.sparkContext.defaultParallelism
    pages = ctx.spark.read.parquet(os.path.join(ctx.data_dir, "pages.parquet"))
    ctx.tables["pages"] = pages.repartition(n).persist()
    ctx.tables["pages"].count()
    return 0


def _pages_to_edges(ctx: Ctx) -> Result:
    from gminer_spark.web.edges import pages_to_edges

    edges = pages_to_edges(ctx.tables["pages"]).persist()
    edges.count()
    ctx.pass_tables["web_edges"] = edges
    return Result(fetch=lambda: _rows(edges))


def _web_triangles(ctx: Ctx) -> Result:
    from gminer_spark.graph.triangles import triangle_count

    return Result(rows=[(triangle_count(ctx.pass_tables["web_edges"]),)])


def _refs_apps(data_dir: str) -> dict[str, list]:
    web = refs.link_edge_list(data_dir)
    return {
        "web.pages_to_edges": web,
        "graph.triangles.triangle_count": [(_graph_oracle().triangles(web),)],
    }


GMINER_APPS = Workload(
    name="gminer_apps",
    shuffle_partitions=8,
    generate=_gen_apps,
    setup=_setup_apps,
    ops=(
        Op("web.pages_to_edges", _pages_to_edges, python=True, extra=("rows",)),
        Op("graph.triangles.triangle_count", _web_triangles, skew=True),
    ),
    references=_refs_apps,
)

WORKLOADS = {w.name: w for w in (ROUNDS_SMALL, GMINER_APPS)}
