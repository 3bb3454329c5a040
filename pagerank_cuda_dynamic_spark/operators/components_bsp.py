"""BSP-mode connected components and label propagation in one barrier stage.

A barrier `mapInPandas` reads the edge frame as it comes and runs all label
rounds: one Spark job per call on an input already computed (a persisted
frame), where a loop of one Spark job per round pays a job's fixed cost
every round.  Each of the stage's K tasks symmetrizes and dedups its own
rows (`symmetrize`'s set semantics) and writes them, keyed dst·n + src, as
one .npy bucket per owner task (owner = dst mod K) into the loop's scratch
dir.  After the first flag sync each task reads its K inbound buckets into
a dst-CSR over the vertices it owns and scatters their labels into
double-buffered shared memmaps; rounds sync via a flag-array spin (the
memmap and spin helpers are _stripe_pack's, shared with the PageRank
loops).  A vertex with no edges is owned by no task and keeps its own id.

K is the input's partition count, read by each task from its barrier
context, so finding it costs the driver no job.  A barrier stage may not
have more tasks than slots, and Spark refuses a `coalesce` into one, so an
input wider than spark.default.parallelism goes through one JVM
`repartition` first.

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


def _partitions_bound(df: DataFrame) -> int | None:
    """An upper bound on df's partition count, read from its physical plan
    without running a job: exact for a plan with no exchange to run (a
    persisted frame is one); for one with, the planned output partitioning,
    which adaptive execution only coalesces (a skew-join split, which needs
    a partition of 256 MB, aside); None if the plan does not say."""
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()  # the plan before any query stage runs
        nodes = [plan]
        while nodes:
            node = nodes.pop()
            if node.nodeName().endswith("Exchange"):
                part = plan.outputPartitioning()
                if part.getClass().getSimpleName() == "UnknownPartitioning":
                    return None
                return part.numPartitions()
            kids = node.children()
            nodes.extend(kids.apply(i) for i in range(kids.size()))
    return qe.toRdd().getNumPartitions()


def _label_loop(edges: DataFrame, n: int, mode: str, max_rounds: int) -> np.ndarray:
    """Shared BSP label loop.  mode='min' (CC) or 'mode' (LPA)."""
    use_min = mode == "min"
    # min-label converges within n rounds; LPA may 2-cycle up to its cap
    MAXR = min(max_rounds, n) if use_min else max_rounds
    P = edges.sparkSession.sparkContext.defaultParallelism
    edges = edges.select("src", "dst")
    width = _partitions_bound(edges)
    if width == 0:
        return np.arange(n, dtype=np.int64)
    if width is None or width > P:
        edges = edges.repartition(P)
    wd = _scratch_dir()

    def loop(it):
        import numpy as _np
        import pandas as _pd
        from pyspark import BarrierTaskContext

        ctx = BarrierTaskContext.get()
        pid, K = ctx.partitionId(), len(ctx.getTaskInfos())
        frames = list(it)
        pdf = _pd.concat(frames) if frames else _pd.DataFrame({"src": [], "dst": []})
        src = pdf["src"].to_numpy(_np.int64)
        dst = pdf["dst"].to_numpy(_np.int64)
        bad = int(((src < 0) | (src >= n) | (dst < 0) | (dst >= n)).sum())
        if not bad:
            key = _np.unique(_np.concatenate([dst * n + src, src * n + dst]))
            owner = key // n % K
            for to in range(K):
                _np.save(os.path.join(wd, f"e_{pid}_{to}.npy"), key[owner == to])
        labs = [mm_open(wd, "lab_0.npy"), mm_open(wd, "lab_1.npy")]
        ch_mm = mm_open(wd, "changed.npy")[:, :K]
        flag_mm = mm_open(wd, "flags.npy")[:, :K]
        ch_mm[0, pid] = bad
        flag_mm[0, pid] = 1
        deadline = time.time() + SYNC_DEADLINE_S
        spin(flag_mm, 0, deadline)
        if int(ch_mm[0, :].sum()):
            yield _pd.DataFrame({"rounds": [0]})  # some task holds out-of-range ids
            return
        key = _np.unique(
            _np.concatenate([_np.load(os.path.join(wd, f"e_{f}_{pid}.npy")) for f in range(K)])
        )  # sorted by (dst, src): a dst-CSR
        dst, src = key // n, key % n
        own, starts = _np.unique(dst, return_index=True)
        l = 0
        while l < MAXR and (l == 0 or int(ch_mm[l, :].sum())):
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
            spin(flag_mm, l, deadline)
        yield _pd.DataFrame({"rounds": [l]})

    try:
        os.makedirs(wd)
        init = np.arange(n, dtype=np.int64)
        mm_create(wd, "lab_0.npy", (n,), np.int64, init)
        mm_create(wd, "lab_1.npy", (n,), np.int64, init)
        # row 0 of changed.npy carries each task's count of out-of-range
        # edges; row l + 1 the labels round l changed.  The stage's K tasks
        # use the first K <= P columns.
        mm_create(wd, "changed.npy", (MAXR + 2, P), np.int64)
        mm_create(wd, "flags.npy", (MAXR + 2, P), np.uint8)
        rows = edges.mapInPandas(loop, "rounds long", barrier=True).collect()
        bad = int(mm_open(wd, "changed.npy", "r")[0, :].sum())
        if bad:
            raise ValueError(f"{bad} edge(s) have an id outside [0, {n})")
        if not rows:  # adaptive execution left no partition
            return init
        rounds = rows[0]["rounds"]  # every task, even an empty one, reports
        return np.array(mm_open(wd, f"lab_{rounds % 2}.npy", "r"))
    finally:
        _remove_scratch(wd)


def connected_components_bsp(edges: DataFrame, n: int, max_rounds: int = 10**6) -> np.ndarray:
    """Min-label propagation to fixpoint in one barrier stage."""
    return _label_loop(edges, n, "min", max_rounds)


def label_propagation_bsp(edges: DataFrame, n: int, max_rounds: int = 20) -> np.ndarray:
    """Synchronous LPA (deterministic tie-break) in one barrier stage."""
    return _label_loop(edges, n, "mode", max_rounds)
