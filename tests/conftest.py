from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pagerank_cuda_dynamic_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def dynamic_batch(spark):
    """One tidied random batch shared by the dynamic PageRank tests:
    (g0, g1, dels, ins, q = static ranks of g0, static ranks of g1)."""
    from pagerank_cuda_dynamic_spark.operators.graph import tidy_batch
    from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import pagerank_static_bsp
    from pagerank_cuda_dynamic_spark.plans.graph_snapshot import GraphSnapshot

    rng = np.random.default_rng(29)
    n = 150
    src = rng.integers(0, n, 700)
    dst = rng.integers(0, n, 700)
    keep = src != dst
    g0 = GraphSnapshot.build(edges_df(spark, src[keep], dst[keep]), n=n)
    base = pagerank_static_bsp(g0)
    ins_pdf = pd.DataFrame(
        {"src": rng.integers(0, n, 40), "dst": rng.integers(0, n, 40)}
    )
    ins_pdf = ins_pdf[ins_pdf.src != ins_pdf.dst]
    pool = np.stack([src[keep], dst[keep]], axis=1)
    pick = rng.choice(len(pool), 25, replace=False)
    del_pdf = pd.DataFrame({"src": pool[pick, 0], "dst": pool[pick, 1]})
    dels, ins = tidy_batch(
        g0.edges, spark.createDataFrame(del_pdf), spark.createDataFrame(ins_pdf)
    )
    dels, ins = dels.persist(), ins.persist()
    g1 = g0.with_batch(dels, ins)
    yield g0, g1, dels, ins, base.ranks, pagerank_static_bsp(g1).ranks
    for x in (g0, g1, dels, ins):
        x.unpersist()


def edges_df(spark, src, dst):
    """Tiny literal edge list → dense-id edge DataFrame."""
    pdf = pd.DataFrame(
        {"src": np.asarray(src, dtype=np.int64), "dst": np.asarray(dst, dtype=np.int64)}
    )
    return spark.createDataFrame(pdf)


def snapshot_oracle(g, **kw):
    """tests/oracle.pagerank_numpy over a snapshot's own edge set (self-
    looped and deduped when the snapshot was built that way)."""
    from .oracle import pagerank_numpy

    e = g.edges.toPandas()
    return pagerank_numpy(g.n, e["src"].to_numpy(), e["dst"].to_numpy(), **kw)


# Golden micro-graphs (FIXTURES.md F5) as literal (n, src[], dst[]) tuples.
MICRO_GRAPHS = {
    "line5": (5, [0, 1, 2, 3], [1, 2, 3, 4]),
    "dangling3": (3, [0, 1], [1, 2]),  # vertex 2 dangles pre-selfloop
    "cycle4": (4, [0, 1, 2, 3], [1, 2, 3, 0]),
    "star_hub": (9, [1, 2, 3, 4, 5, 6, 7, 8], [0] * 8),
    "two_islands": (6, [0, 1, 2, 3, 4, 5], [1, 2, 0, 4, 5, 3]),
    "diamond": (4, [0, 0, 1, 2], [1, 2, 3, 3]),
}
