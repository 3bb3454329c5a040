"""Checkpointed convergence runner + temporal micro-batch driver.

The reference consumes a temporal edge stream prefix-wise (snap.hxx:41–58):
first 90% = base graph, remainder in batchFraction·|E| slices, per batch
re-running every technique and carrying ranks forward (main.cu:79–147).
Here the stream is a sequence-numbered edge DataFrame; a batch is a `seq`
range; every convergence segment checkpoints (ranks, frontier, metrics)
so a killed job resumes mid-convergence (north rule).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from pagerank_cuda_dynamic_spark.operators.graph import tidy_batch
from pagerank_cuda_dynamic_spark.operators.pagerank import (
    PagerankOptions,
    PagerankResult,
)
from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import _bsp_loop
from pagerank_cuda_dynamic_spark.plans.graph_snapshot import GraphSnapshot
from pagerank_cuda_dynamic_spark.streaming.checkpoint import CheckpointManager


def pagerank_checkpointed(
    graph: GraphSnapshot,
    ckpt: CheckpointManager,
    opts: PagerankOptions | None = None,
    q: np.ndarray | None = None,
    vaff0: np.ndarray | None = None,
    expand: bool = False,
    prune: bool = False,
    corrected: bool = False,
    segment: int = 10,
    resume: bool = True,
) -> PagerankResult:
    """Run the BSP loop in `segment`-superstep chunks, checkpointing ranks +
    frontier + metrics after each chunk.  If `resume` and a checkpoint
    exists under ckpt.root, continue from it (killed-job recovery)."""
    opts = opts or PagerankOptions()
    t0 = time.time()
    done = 0
    movers = None
    steps: list[float] = []
    if resume:
        loaded = ckpt.load()
        if loaded is not None:
            done, q, vaff_l, movers_l, _meta = loaded
            if vaff_l is not None:
                vaff0 = vaff_l
            if movers_l is not None:
                movers = movers_l
    bounds = None
    while done < opts.max_iterations:
        seg_opts = PagerankOptions(
            damping=opts.damping,
            tolerance=opts.tolerance,
            frontier_tolerance=opts.frontier_tolerance,
            prune_tolerance=opts.prune_tolerance,
            max_iterations=min(segment, opts.max_iterations - done),
        )
        res = _bsp_loop(
            graph,
            seg_opts,
            q=q,
            vaff0=vaff0,
            corrected=corrected,
            expand=expand,
            prune=prune,
            movers0=movers,
        )
        done += res.iterations
        steps.extend(res.superstep_seconds)
        q = res.ranks
        vaff0 = res.state.get("vaff", vaff0)
        movers = res.state.get("movers")
        bounds = res.state.get("bounds")
        ckpt.save(
            done,
            res.ranks,
            vaff0,
            res.state["el"],
            float(np.sum(res.superstep_seconds)),
            bounds=bounds,
            extra={"segment_iterations": res.iterations},
            movers=movers,
        )
        if res.state["converged"]:
            break
    return PagerankResult(
        q, done, time.time() - t0, superstep_seconds=steps,
        state={"converged": True},
    )


@dataclass
class BatchMetrics:
    batch_id: int
    technique: str
    iterations: int
    seconds: float
    affected_initial: int
    linf_vs_oracle: float | None = None


def run_temporal_batches(
    spark: SparkSession,
    edges_seq: DataFrame,
    base_fraction: float = 0.9,
    n_batches: int = 5,
    technique: str = "dfp",
    opts: PagerankOptions | None = None,
    ckpt_root: str | None = None,
    with_oracle: bool = False,
) -> tuple[np.ndarray, list[BatchMetrics]]:
    """The main.cu:79–147 experiment as a Spark driver loop.

    edges_seq: (src:long, dst:long, seq:long) temporal edge table, dense ids.
    Builds the base graph from the first `base_fraction` of edges, then
    applies the rest in n_batches insert-only slices, running `technique`
    (nd | dt | df | dfp | static) with ranks carried forward; optional
    full-precision static oracle per batch (main.cu:88)."""
    from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import (
        pagerank_dynamic_frontier_bsp,
        pagerank_dynamic_frontier_prune_bsp,
        pagerank_dynamic_traversal_bsp,
        pagerank_static_bsp,
    )

    opts = opts or PagerankOptions()
    bounds = edges_seq.agg(
        F.max("seq").alias("mseq"),
        F.greatest(F.max("src"), F.max("dst")).alias("m"),
    ).collect()[0]
    if bounds["mseq"] is None:
        raise ValueError("run_temporal_batches: edges_seq has no edge records")
    total = int(bounds["mseq"]) + 1
    n = int(bounds["m"]) + 1
    cut = int(base_fraction * total)
    base_edges = edges_seq.where(F.col("seq") < cut).select("src", "dst")
    g = GraphSnapshot.build(base_edges, n=n)
    ranks = pagerank_static_bsp(g, opts).ranks
    metrics: list[BatchMetrics] = []
    slice_w = max((total - cut) // n_batches, 1)
    for b in range(n_batches):
        lo = cut + b * slice_w
        hi = total if b == n_batches - 1 else lo + slice_w
        ins_raw = (
            edges_seq.where((F.col("seq") >= lo) & (F.col("seq") < hi))
            .select("src", "dst")
            .distinct()
        )
        empty = ins_raw.limit(0)
        dels, ins = tidy_batch(g.edges, empty, ins_raw)
        # materialize the tidied batch once and cut its lineage (its plan
        # probes |E|), then take the fast-path child: delta pack, no |E|
        # shuffle
        dels, ins = dels.localCheckpoint(), ins.localCheckpoint()
        g2 = g.with_batch(dels, ins, repartition=False)
        t0 = time.time()
        if technique == "static":
            res = pagerank_static_bsp(g2, opts)
        elif technique == "nd":
            res = pagerank_static_bsp(g2, opts, q=ranks)
        elif technique == "dt":
            res = pagerank_dynamic_traversal_bsp(g, g2, dels, ins, ranks, opts)
        elif technique == "df":
            res = pagerank_dynamic_frontier_bsp(g, g2, dels, ins, ranks, opts)
        elif technique == "dfp":
            res = pagerank_dynamic_frontier_prune_bsp(g, g2, dels, ins, ranks, opts)
        else:
            raise ValueError(technique)
        dt_s = time.time() - t0
        err = None
        if with_oracle:
            oracle = pagerank_static_bsp(g2, PagerankOptions(tolerance=1e-100, max_iterations=500))
            err = float(np.abs(res.ranks - oracle.ranks).sum())
        if ckpt_root is not None:
            cm = CheckpointManager(spark, f"{ckpt_root}/batch={b:04d}")
            vaff = res.state.get("vaff")
            cm.save(res.iterations, res.ranks, vaff, res.state.get("el", 0.0), dt_s,
                    bounds=res.state.get("bounds"),
                    extra={"batch_id": b, "technique": technique})
        metrics.append(
            BatchMetrics(b, technique, res.iterations, dt_s, res.affected_initial, err)
        )
        g.unpersist()
        g = g2
        ranks = res.ranks
    return ranks, metrics
