"""Seeded benchmark inputs, written under the work dir and cached per seed.

Two input families, both made only from ``seed`` and the size settings
in ``workloads.py``:

* ``sf_tables`` — a TPC-H-shaped ``lineitem`` table, the input of the
  co-purchase graph (parts linked when they share an order).  Lines
  per order follow the spread of the repo's sf test data (1..13, mode
  4); parts are drawn uniformly.
* ``link_pages`` — a preferential-attachment topology
  (``powerlaw_edges``) rendered into Common-Crawl-style pages by
  ``page_rows``, plus the topology itself and the url-hash id of every
  vertex, which the reference side needs.

Writing these files is the generator's job: it is not part of
``setup_s``, and a finished directory (marked by ``DONE``) is reused.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# orders with 1..13 lines, counted in the repo's sf0.01 lineitem table
LINES_PER_ORDER = [1120, 2129, 2955, 3024, 2295, 1550, 936, 434, 203, 55, 25, 11, 6]


def _finish(tmp: str, final: str, meta: dict) -> str:
    with open(os.path.join(tmp, "DONE"), "w") as f:
        json.dump(meta, f)
    if os.path.exists(final):
        shutil.rmtree(final)
    os.replace(tmp, final)
    return final


def _cached(final: str) -> bool:
    return os.path.exists(os.path.join(final, "DONE"))


def sf_tables(out_dir: str, seed: int, n_orders: int, n_parts: int) -> str:
    """``lineitem(l_orderkey, l_partkey)`` parquet; returns the sf dir."""
    if _cached(out_dir):
        return out_dir
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng([seed, n_orders, n_parts])
    w = np.asarray(LINES_PER_ORDER, dtype=float)
    lines = rng.choice(np.arange(1, len(w) + 1), size=n_orders, p=w / w.sum())
    orderkey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    lineitem = pa.table(
        {
            "l_orderkey": orderkey,
            "l_partkey": rng.integers(0, n_parts, orderkey.size, dtype=np.int64),
        }
    )
    pq.write_table(lineitem, os.path.join(tmp, "lineitem.parquet"))
    return _finish(tmp, out_dir, {"seed": seed, "lineitem_rows": orderkey.size})


_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5
_MASK = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _MASK, 31) * _P1) & _MASK


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 as Spark's ``xxhash64`` computes it for a string column
    (UTF-8 bytes, seed 42), as a signed 64-bit integer."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _MASK, (seed + _P2) & _MASK, seed, (seed - _P1) & _MASK]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _round(v[j], int.from_bytes(data[i + 8 * j : i + 8 * j + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _MASK
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _MASK
    else:
        h = (seed + _P5) & _MASK
    h = (h + n) & _MASK
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _MASK
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _MASK
        h = (_rotl(h, 23) * _P2 + _P3) & _MASK
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _MASK
        h = (_rotl(h, 11) * _P1) & _MASK
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _MASK
    h ^= h >> 29
    h = (h * _P3) & _MASK
    h ^= h >> 32
    return h - (1 << 64) if h >= 1 << 63 else h


def link_pages(out_dir: str, seed: int, n_pages: int, m: int) -> str:
    """``pages.parquet`` realizing a power-law topology (``page_rows``:
    fragments, trailing slashes, duplicate, relative, self and
    ``mailto:`` links around the real ones), the topology as
    ``topology.parquet(src, dst)`` and ``ids.parquet(vid, id)``, ``id``
    being the id the engine mints for the page url."""
    from gminer_spark.web.fixtures import PAGES_SCHEMA, page_rows, powerlaw_edges, url_for

    if _cached(out_dir):
        return out_dir
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    edges = powerlaw_edges(n_pages, m=m, seed=seed)
    arr = np.asarray(edges, dtype=np.int64)
    pq.write_table(
        pa.table({"src": arr[:, 0], "dst": arr[:, 1]}),
        os.path.join(tmp, "topology.parquet"),
    )
    rows = page_rows(edges, namespace="bench", seed=seed)
    cols = [f.name for f in PAGES_SCHEMA.fields]
    pages = pa.table(
        {c: [r[i] for r in rows] for i, c in enumerate(cols)},
        schema=pa.schema(
            [("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
             ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())]
        ),
    )
    pq.write_table(pages, os.path.join(tmp, "pages.parquet"))
    vids = np.arange(n_pages, dtype=np.int64)
    ids = [xxhash64(url_for(int(v), "bench").encode()) for v in vids]
    pq.write_table(
        pa.table({"vid": vids, "id": np.asarray(ids, dtype=np.int64)}),
        os.path.join(tmp, "ids.parquet"),
    )
    return _finish(tmp, out_dir, {"seed": seed, "links": len(edges)})
