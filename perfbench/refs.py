"""Reference outputs, computed once per seed outside every timed span.

Each operator's output is checked against an independent reference:
the numpy oracles in ``tests/oracle/graph_oracle.py`` (PageRank,
triangles), and for ``pages_to_edges`` the topology the pages were
rendered from.  References are cached as JSON beside the seeded
inputs.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import pandas as pd


def copurchase_edge_list(sf_dir: str) -> list[tuple[int, int]]:
    """The co-purchase edge set (parts sharing an order, src < dst),
    computed with pandas from ``lineitem``."""
    li = pd.read_parquet(
        os.path.join(sf_dir, "lineitem.parquet"), columns=["l_orderkey", "l_partkey"]
    )
    pairs = li.merge(li, on="l_orderkey")
    pairs = pairs[pairs.l_partkey_x < pairs.l_partkey_y]
    pairs = pairs[["l_partkey_x", "l_partkey_y"]].drop_duplicates()
    return list(zip(pairs.l_partkey_x.tolist(), pairs.l_partkey_y.tolist()))


def link_edge_list(lp_dir: str) -> list[tuple[int, int]]:
    """The topology the pages realize, in the engine's url-hash ids."""
    topo = pd.read_parquet(os.path.join(lp_dir, "topology.parquet"))
    ids = pd.read_parquet(os.path.join(lp_dir, "ids.parquet")).set_index("vid")["id"]
    return list(zip(ids[topo.src].tolist(), ids[topo.dst].tolist()))


def cached(path: str, compute) -> dict[str, list]:
    """``compute()`` once; later runs on the same seed read the JSON."""
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    refs = {k: [list(r) for r in v] for k, v in compute().items()}
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(refs, f)
    os.replace(tmp, path)
    return refs


def fingerprint(rows: list[tuple]) -> str:
    """Order-free digest of an output, floats at 12 significant digits."""
    norm = sorted(
        tuple(f"{v:.12g}" if isinstance(v, float) else v for v in r) for r in rows
    )
    return hashlib.sha256(repr(norm).encode()).hexdigest()[:16]


def mismatches(
    got: list[tuple], want: list, rel: float = 1e-9, abs_tol: float = 1e-12
) -> int:
    """Rows of ``got`` that differ from ``want`` (both unordered);
    float columns match within ``rel``/``abs_tol``, others exactly."""
    got = sorted(tuple(r) for r in got)
    want = sorted(tuple(r) for r in want)
    bad = abs(len(got) - len(want))
    for g, w in zip(got, want):
        if len(g) != len(w):
            bad += 1
            continue
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if not math.isclose(a, b, rel_tol=rel, abs_tol=abs_tol):
                    bad += 1
                    break
            elif a != b:
                bad += 1
                break
    return bad
