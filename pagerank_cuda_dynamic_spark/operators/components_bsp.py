"""BSP-mode connected components and label propagation in one Spark query.

A `mapInPandas` emits every edge in both directions, `repartition(P, "dst")`
gives each vertex's rows to one task, and a barrier `mapInPandas` runs all
label rounds: two Spark jobs per call, where a loop of one Spark job per
round pays a job's fixed cost every round.  Each
task dedups its rows (`symmetrize`'s set semantics), builds a dst-CSR over
the vertices it owns and scatters their labels into double-buffered shared
memmaps; rounds sync via a flag-array spin (the memmap and spin helpers are
_stripe_pack's, shared with the PageRank loops).  A vertex with no edges is
owned by no task and keeps its own id.

CC semantics: iterative min-label to fixpoint over the symmetrized graph —
component id = min vertex id (exact, matches tests/oracle.py).
LPA semantics: synchronous most-frequent-neighbor label, ties → smallest
label, fixpoint or max_rounds (matches tests/oracle.py).

This is the dense-id, single-node components engine; the shared-nothing
one is components.connected_components_joinagg / label_propagation_joinagg.
"""

from __future__ import annotations

import os
import time

import numpy as np
from pyspark.sql import DataFrame

from pagerank_cuda_dynamic_spark.operators._stripe_pack import (
    SYNC_DEADLINE_S,
    mm_create,
    mm_open,
    spin,
)
from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import (
    _remove_scratch,
    _scratch_dir,
)


def _label_loop(edges: DataFrame, n: int, mode: str, max_rounds: int) -> np.ndarray:
    """Shared BSP label loop.  mode='min' (CC) or 'mode' (LPA)."""
    use_min = mode == "min"
    # min-label converges within n rounds; LPA may 2-cycle up to its cap
    MAXR = min(max_rounds, n) if use_min else max_rounds
    P = edges.sparkSession.sparkContext.defaultParallelism
    wd = _scratch_dir()

    def both_directions(it):
        import pandas as _pd

        for pdf in it:
            rev = pdf.rename(columns={"src": "dst", "dst": "src"})
            yield _pd.concat([pdf, rev], ignore_index=True)

    def loop(it):
        import numpy as _np
        import pandas as _pd
        from pyspark import BarrierTaskContext

        pid = BarrierTaskContext.get().partitionId()
        frames = list(it)
        pdf = _pd.concat(frames) if frames else _pd.DataFrame({"src": [], "dst": []})
        src = pdf["src"].to_numpy(_np.int64)
        dst = pdf["dst"].to_numpy(_np.int64)
        bad = int(((src < 0) | (src >= n) | (dst < 0) | (dst >= n)).sum())
        if not bad and src.size:
            key = _np.unique(dst * n + src)  # sorted by (dst, src): a dst-CSR
            dst, src = key // n, key % n
        own, starts = _np.unique(dst, return_index=True)
        labs = [mm_open(wd, "lab_0.npy"), mm_open(wd, "lab_1.npy")]
        ch_mm = mm_open(wd, "changed.npy")
        flag_mm = mm_open(wd, "flags.npy")
        ch_mm[0, pid] = bad
        flag_mm[0, pid] = 1
        deadline = time.time() + SYNC_DEADLINE_S
        l = 0
        while True:
            spin(flag_mm, l, deadline)
            if l == 0 and int(ch_mm[0, :].sum()):
                break  # some task holds out-of-range ids
            if l >= MAXR or (l > 0 and int(ch_mm[l, :].sum()) == 0):
                break
            cur, nxt = l % 2, (l + 1) % 2
            lab = labs[cur]
            old = lab[own]
            nl = lab[src]
            if use_min:
                new = _np.minimum(old, _np.minimum.reduceat(nl, starts))
            else:
                new = (
                    _pd.DataFrame({"v": dst, "lab": nl})
                    .groupby(["v", "lab"], sort=False)
                    .size()
                    .reset_index(name="c")
                    .sort_values(["v", "c", "lab"], ascending=[True, False, True])
                    .drop_duplicates("v", keep="first")["lab"]
                    .to_numpy(_np.int64)
                )
            labs[nxt][own] = new
            ch_mm[l + 1, pid] = int((new != old).sum())
            flag_mm[l + 1, pid] = 1
            l += 1
        yield _pd.DataFrame({"rounds": [l]})

    try:
        os.makedirs(wd)
        init = np.arange(n, dtype=np.int64)
        mm_create(wd, "lab_0.npy", (n,), np.int64, init)
        mm_create(wd, "lab_1.npy", (n,), np.int64, init)
        # row 0 of changed.npy carries each task's count of out-of-range
        # rows; row l + 1 the labels round l changed
        mm_create(wd, "changed.npy", (MAXR + 2, P), np.int64)
        mm_create(wd, "flags.npy", (MAXR + 2, P), np.uint8)
        rows = (
            edges.select("src", "dst")
            .mapInPandas(both_directions, "src long, dst long")
            .repartition(P, "dst")
            .mapInPandas(loop, "rounds long", barrier=True)
            .collect()
        )
        # an out-of-range edge arrives as two out-of-range rows
        bad = int(mm_open(wd, "changed.npy", "r")[0, :].sum()) // 2
        if bad:
            raise ValueError(f"{bad} edge(s) have an id outside [0, {n})")
        rounds = rows[0]["rounds"]  # every task, even an empty one, reports
        return np.array(mm_open(wd, f"lab_{rounds % 2}.npy", "r"))
    finally:
        _remove_scratch(wd)


def connected_components_bsp(edges: DataFrame, n: int, max_rounds: int = 10**6) -> np.ndarray:
    """Min-label propagation to fixpoint in one barrier job."""
    return _label_loop(edges, n, "min", max_rounds)


def label_propagation_bsp(edges: DataFrame, n: int, max_rounds: int = 20) -> np.ndarray:
    """Synchronous LPA (deterministic tie-break) in one barrier job."""
    return _label_loop(edges, n, "mode", max_rounds)
