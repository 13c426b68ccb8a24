"""Shared pytest fixtures: one SparkSession per test session + tiny graphs."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"
REFERENCE_DIR = "/root/reference"

# Only for tests whose INPUT is the reference checkout (its files, or
# the paths cited from it); everything else must run without it.
requires_reference = pytest.mark.skipif(
    not Path(REFERENCE_DIR).is_dir(), reason=f"needs {REFERENCE_DIR} checkout"
)


@pytest.fixture(scope="session")
def spark():
    from gminer_spark.session import get_spark

    s = get_spark(app_name="gminer_tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


def edges_df(spark, pairs):
    return spark.createDataFrame(
        [(int(s), int(d)) for s, d in pairs], "src long, dst long"
    )


# -- FIXTURES.md §2 topologies ------------------------------------------------
PATH5 = [(1, 2), (2, 3), (3, 4), (4, 5)]
CYCLE6 = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 1)]
STAR = [(0, i) for i in range(1, 21)] + [(i, 0) for i in range(1, 21)]
K5 = [(i, j) for i in range(1, 6) for j in range(1, 6) if i < j]
TWOCOMP = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12)]


def random_graph(n=200, p=0.03, seed=42, directed=True):
    import numpy as np

    rng = np.random.default_rng(seed)
    a = rng.random((n, n)) < p
    pairs = [
        (i, j)
        for i in range(n)
        for j in range(n)
        if i != j and a[i, j] and (directed or i < j)
    ]
    return pairs


def bipartite_incidence(n_pairs=400, seed=5):
    """Distinct (left, right) pairs over 40 left and 25 right ids."""
    import random

    rng = random.Random(seed)
    rows = set()
    while len(rows) < n_pairs:
        rows.add((rng.randrange(40), rng.randrange(25)))
    return sorted(rows)
