"""Shared fixtures: one SparkSession per test session; golden graphs.

Golden betweenness values are regenerated from networkx at test time
(FIXTURES.md §4) rather than trusting literals. The reference counts
ordered pairs ("To Match with baders results",
``modified_apsp.cpp:209``), i.e. 2× networkx's unnormalized BC.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

import networkx as nx
import pytest

from centrality_gpu_spark.session import get_spark
from centrality_gpu_spark.sources.reference_samples import SAMPLE_EDGES


def _write_sample_dir() -> str:
    """Write the four reference sample graphs in their original text
    format (header ``n m``, then ``u v 1`` rows) to a temp dir that
    lives as long as the test session."""
    d = tempfile.mkdtemp(prefix="cgs_samples_")
    atexit.register(shutil.rmtree, d, True)
    for which, edges in SAMPLE_EDGES.items():
        n = len({u for e in edges for u in e})
        rows = [f"{n} {len(edges)}"] + [f"{u} {v} 1" for u, v in edges]
        with open(os.path.join(d, f"test{which}.txt"), "w") as f:
            f.write("\n".join(rows) + "\n")
    return d


SAMPLE_DIR = _write_sample_dir()
TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMALL = f"{TESTDATA}/sf0.001"
SF_MED = f"{TESTDATA}/sf0.01"


def read_sample_edges(name: str) -> list[tuple[int, int]]:
    """Parse a reference sample graph (header `n m`, rows `u v w`)."""
    with open(f"{SAMPLE_DIR}/{name}.txt") as f:
        lines = f.read().strip().splitlines()
    return [(int(u), int(v)) for u, v, _w in (ln.split() for ln in lines[1:])]


def sample_nx(name: str) -> nx.Graph:
    g = nx.Graph()
    g.add_edges_from(read_sample_edges(name))
    return g


@pytest.fixture(scope="session")
def spark():
    # at most 8 cores, and no more than the box has (SPARK_GRAFT_CPUS):
    # oversubscribed local slots only add Python-worker contention
    cores = min(8, int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    # get_spark's driver heap defaults to 48g; on a smaller box G1 grows
    # the heap until the kernel's OOM killer takes the JVM mid-suite
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    s = get_spark(app_name="tests", cores=cores, shuffle_partitions=cores)
    yield s
    s.stop()


@pytest.fixture(scope="session", params=["test1", "test2", "test3", "test4"])
def sample_name(request):
    return request.param
