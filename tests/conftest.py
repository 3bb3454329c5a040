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
