"""PageRank operator family (SURVEY.md §2.7) — Static, Naive-Dynamic (ND),
Dynamic-Traversal (DT), Dynamic-Frontier (DF), DF-with-Pruning (DF-P).

Semantics transliterated from the reference (NOT its execution strategy):
  * pull update  a[v] = C0 + P·Σ_{u∈in(v)} r[u]/outdeg(u), C0=(1−P)/N
    (pagerank.hxx:132–141; C0 at :388)
  * DF-P corrected update a[v] = (C0 + P·(Σ − r[v]/d_v)) / (1 − P/d_v)
    (pagerankPrune.hxx:30–41)
  * sync iteration: full-vector L∞ between consecutive ranks < tolerance,
    max 500 iterations (pagerank.hxx:387–394); unaffected vertices carry
    rank forward (CUDA semantics, pagerankCuda.hxx:94–97 — canonical here)
  * DF marking: out-neighbors of deletion srcs in OLD graph, insertion srcs
    in NEW graph (pagerank.hxx:645–676); per-iteration expansion marks
    out-neighbors of vertices whose relative change > frontierTolerance
    (pagerank.hxx:700)
  * DF-P: prune vaff[v] when rel-change ≤ pruneTolerance; expansion skips
    self (v!=u) (pagerankPrune.hxx:57–67)
  * DT marking: BFS closure in the NEW graph from out-neighbors (old graph
    for deletions, new for insertions) of changed-edge sources
    (pagerank.hxx:543–578)

This module holds what every engine shares: the options, the result, the
warm-start rule and the Spark-side marking helpers.  The engine is the
barrier-scheduled superstep loop in pagerank_bsp, whose entry points
(pagerank_static_bsp — static and, with q, ND — and the DT/DF/DF-P
`*_bsp` functions) are the package's PageRank calls; pagerank_tcp runs
the same kernel over a TCP ring where no shared filesystem exists.  Both
assume |V| fits one node, as the reference assumes one GPU
(pagerankCuda.hxx:798).  tests/oracle.py is the independent NumPy check.

Dangling vertices: default dangling="selfloop" assumes the graph snapshot
already self-loops every vertex (main.cu:169).  dangling="redistribute"
implements the broadcast dangling-mass correction instead:
a[v] += P·(Σ_{outdeg(u)=0} r[u])/N per superstep.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import TYPE_CHECKING

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

if TYPE_CHECKING:  # avoid plans ↔ operators circular import at runtime
    from pagerank_cuda_dynamic_spark.plans.graph_snapshot import GraphSnapshot


@dataclass
class PagerankOptions:
    """Defaults per reference pagerank.hxx:52 (code wins over doc comment)."""

    damping: float = 0.85
    tolerance: float = 1e-10
    frontier_tolerance: float = 1e-6
    prune_tolerance: float = 1e-6
    max_iterations: int = 500
    dangling: str = "selfloop"  # "selfloop" | "redistribute"


@dataclass
class PagerankResult:
    """PagerankResult analog (pagerank.hxx:65–113)."""

    ranks: np.ndarray
    iterations: int
    time: float
    affected_initial: int = 0
    superstep_seconds: list = field(default_factory=list)
    # wall split (BSP path): pack_seconds = stripe-CSR build (0.0 when the
    # snapshot's pack was cached), setup_seconds = memmap init + barrier
    # dispatch up to the first superstep.  time ≈ pack + setup + Σ supersteps.
    pack_seconds: float = 0.0
    setup_seconds: float = 0.0
    # loop-carried state for segmented/checkpointed runs:
    # {"vaff": ndarray|None, "movers": ndarray|None, "converged": bool}
    state: dict = field(default_factory=dict)

    def ranks_df(self, spark) -> DataFrame:
        pdf = pd.DataFrame({"v": np.arange(len(self.ranks), dtype=np.int64),
                            "rank": self.ranks})
        return spark.createDataFrame(pdf)


# ---------------------------------------------------------------------------
# marking helpers (dynamic family)
# ---------------------------------------------------------------------------

def _out_neighbors(edges: DataFrame, srcs: DataFrame) -> np.ndarray:
    """dst ids of edges whose src ∈ srcs (one-hop, distinct)."""
    pdf = (
        edges.join(F.broadcast(srcs.select("src").distinct()), "src", "left_semi")
        .select("dst")
        .distinct()
        .toPandas()
    )
    return pdf["dst"].to_numpy()


def _frontier_marks(
    old: "GraphSnapshot", new: "GraphSnapshot", deletions: DataFrame, insertions: DataFrame
) -> np.ndarray:
    """DF initial vaff (pagerankAffectedFrontierW, pagerank.hxx:645–652):
    out-neighbors of deletion srcs in OLD graph ∪ insertion srcs in NEW."""
    vaff = np.zeros(new.n, dtype=bool)
    if deletions is not None:
        ids = _out_neighbors(old.edges, deletions)
        if ids.size:
            vaff[ids] = True
    if insertions is not None:
        ids = _out_neighbors(new.edges, insertions)
        if ids.size:
            vaff[ids] = True
    return vaff


def _traversal_marks(
    old: "GraphSnapshot", new: "GraphSnapshot", deletions: DataFrame, insertions: DataFrame
) -> np.ndarray:
    """DT vaff (pagerankAffectedTraversalW, pagerank.hxx:543–550): BFS in the
    NEW graph from every out-neighbor (old graph for deletions, new for
    insertions) of changed-edge sources."""
    from pagerank_cuda_dynamic_spark.operators.graph import bfs_reachable

    spark = new.edges.sparkSession
    seeds = np.concatenate(
        [
            _out_neighbors(old.edges, deletions) if deletions is not None else np.empty(0, np.int64),
            _out_neighbors(new.edges, insertions) if insertions is not None else np.empty(0, np.int64),
        ]
    )
    vaff = np.zeros(new.n, dtype=bool)
    if seeds.size == 0:
        return vaff
    seeds_df = spark.createDataFrame(
        pd.DataFrame({"v": np.unique(seeds).astype(np.int64)})
    )
    visited = bfs_reachable(new.edges, seeds_df).toPandas()["v"].to_numpy()
    vaff[visited] = True
    return vaff


def _adjust_warm_start(q: np.ndarray, n: int) -> np.ndarray:
    """Resize prior ranks to the new vertex span; new vertices start at 0
    (pagerankInitializeRanksFrom semantics: absent→0, pagerank.hxx:290)."""
    q = np.asarray(q, dtype=np.float64)
    if q.size == n:
        return q
    out = np.zeros(n, dtype=np.float64)
    out[: min(q.size, n)] = q[: min(q.size, n)]
    return out
