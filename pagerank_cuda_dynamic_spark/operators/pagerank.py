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

Two physical strategies:
  * mode="csr"    — the north-star path: edge partitions hash(dst)-local,
    per-partition vectorized gather (np.bincount ≡ CSR np.add.reduceat)
    inside mapInPandas with a broadcast rank array; one narrow Spark job +
    one scalar-sized collect per superstep — the Spark analog of the
    reference's one-D2H-scalar-per-iteration loop (pagerankCuda.hxx:676–692).
    Assumes |V| fits driver/executor memory (exactly the reference's
    single-GPU assumption).
  * mode="joinagg" — pure DataFrame join/agg supersteps; nothing ever
    collected but the L∞ scalar; the 10^12-vertex scale-out path and the
    cross-checking oracle for the csr kernel.

Dangling vertices: default dangling="selfloop" assumes the graph snapshot
already self-loops every vertex (main.cu:169).  dangling="redistribute"
implements the broadcast dangling-mass correction instead:
a[v] += P·(Σ_{outdeg(u)=0} r[u])/N per superstep.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import TYPE_CHECKING

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from pagerank_cuda_dynamic_spark.plans.barrier import broadcast_state, materialize

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
    mode: str = "csr"  # "csr" | "joinagg"
    dangling: str = "selfloop"  # "selfloop" | "redistribute"


@dataclass
class PagerankResult:
    """PagerankResult analog (pagerank.hxx:65–113)."""

    ranks: np.ndarray
    iterations: int
    time: float
    marking_time: float = 0.0
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
# CSR-kernel path (mapInPandas + broadcast rank array)
# ---------------------------------------------------------------------------

def _loop_csr(
    graph: "GraphSnapshot",
    r: np.ndarray,
    vaff: np.ndarray | None,
    opts: PagerankOptions,
    corrected: bool = False,
    expand: bool = False,
    prune: bool = False,
    movers0: np.ndarray | None = None,
) -> tuple[np.ndarray, int, list]:
    """Shared superstep loop.  vaff=None ⇒ all vertices affected (static/ND).

    Per superstep: broadcast (r/outdeg, vaff, movers) → narrow mapInPandas
    job over the dst-partitioned cached edges → per-partition vectorized
    gather → collect ≤|V| (v, contrib, marked) rows → driver assembles new
    rank vector, L∞, frontier bookkeeping.  movers_i mark out-neighbors in
    superstep i+1 (two-phase naff/vaff, pagerankCuda.hxx:681–687)."""
    spark = graph.edges.sparkSession
    sc = spark.sparkContext
    N = graph.n
    P = opts.damping
    E = opts.tolerance
    D = opts.frontier_tolerance
    C = opts.prune_tolerance
    C0 = (1.0 - P) / N
    outdeg = graph.outdeg_array()
    # dangling-only guard; np.maximum would clamp weighted degrees in (0,1)
    safe_deg = np.where(outdeg > 0, outdeg, 1.0)
    dangling_mask = outdeg == 0 if opts.dangling == "redistribute" else None
    dynamic = vaff is not None
    movers = movers0 if movers0 is not None else np.zeros(N, dtype=bool)
    edges = graph.edges
    iters = 0
    step_secs: list = []

    packed = graph.packed()

    while iters < opts.max_iterations:
        t0 = time.time()
        payload = {"rdiv": r / safe_deg}
        if dynamic:
            payload["vaff"] = vaff
            payload["movers"] = movers
        bc = sc.broadcast(payload)
        do_expand = expand
        do_prune = prune
        n_cap = N
        dyn = dynamic

        def kernel(batches):
            d = bc.value
            rdiv = d["rdiv"]
            vaff_b = d.get("vaff")
            movers_b = d.get("movers")
            for pdf in batches:
                for j in range(len(pdf)):
                    src = np.frombuffer(pdf["src_bin"].iloc[j], dtype=np.int64)
                    dst = np.frombuffer(pdf["dst_bin"].iloc[j], dtype=np.int64)
                    if src.size == 0:
                        continue
                    contrib = np.bincount(dst, weights=rdiv[src], minlength=n_cap)
                    present = np.bincount(dst, minlength=n_cap).astype(bool)
                    if do_expand:
                        m = movers_b[src]
                        if do_prune:
                            m &= src != dst  # DF-P skips self (pagerankPrune.hxx:65)
                        ext = np.zeros(n_cap, dtype=bool)
                        if m.any():
                            ext |= np.bincount(dst[m], minlength=n_cap).astype(bool)
                    else:
                        ext = None
                    if dyn:
                        aff_local = vaff_b.copy()
                        if do_expand:
                            aff_local |= ext
                        aff_local &= present
                        idx = np.flatnonzero(aff_local)
                        marked = (
                            ext[idx]
                            if do_expand
                            else np.zeros(idx.size, dtype=bool)
                        )
                    else:
                        idx = np.flatnonzero(present)
                        marked = np.zeros(idx.size, dtype=bool)
                    yield pd.DataFrame(
                        {
                            "vs_bin": [idx.astype(np.int64).tobytes()],
                            "contrib_bin": [contrib[idx].tobytes()],
                            "marked_bin": [np.packbits(marked).tobytes()],
                            "n_out": [idx.size],
                        }
                    )

        pdf = packed.mapInPandas(
            kernel, "vs_bin binary, contrib_bin binary, marked_bin binary, n_out long"
        ).toPandas()
        bc.destroy()

        vs_parts, cs_parts, mk_parts = [], [], []
        for j in range(len(pdf)):
            n_out = int(pdf["n_out"].iloc[j])
            vs_parts.append(np.frombuffer(pdf["vs_bin"].iloc[j], dtype=np.int64))
            cs_parts.append(np.frombuffer(pdf["contrib_bin"].iloc[j], dtype=np.float64))
            mk_parts.append(
                np.unpackbits(
                    np.frombuffer(pdf["marked_bin"].iloc[j], dtype=np.uint8),
                    count=n_out,
                ).astype(bool)
            )
        vs = np.concatenate(vs_parts) if vs_parts else np.empty(0, np.int64)
        cs = np.concatenate(cs_parts) if cs_parts else np.empty(0, np.float64)
        mk = np.concatenate(mk_parts) if mk_parts else np.empty(0, bool)
        dshare = (
            P * float(r[dangling_mask].sum()) / N if dangling_mask is not None else 0.0
        )
        if dynamic:
            vaff = vaff.copy()
            if mk.any():
                vaff[vs[mk]] = True
        # assemble new ranks: every affected vertex gets the teleport (+
        # dangling share) base; vertices with in-edges add the gathered sum.
        # Vertices affected but without in-edges exist only in redistribute
        # mode (self-loops guarantee an in-edge otherwise).
        if corrected:
            # DF-P corrected update assumes universal self-loops (d_v ≥ 1);
            # affected ≡ collected rows there.
            a = r.copy()
            if vs.size:
                dv = outdeg[vs].astype(np.float64)
                a[vs] = (C0 + P * (cs - r[vs] / dv)) / (1.0 - P / dv)
            upd = vs
        elif dynamic:
            a = r.copy()
            upd = np.flatnonzero(vaff)
            a[upd] = C0 + dshare
            a[vs] += P * cs
        else:
            a = np.full(N, C0 + dshare)
            a[vs] += P * cs
            upd = None  # all vertices
        if upd is None:
            eu_all = np.abs(a - r)
            el = float(eu_all.max()) if N else 0.0
        else:
            eu = np.abs(r[upd] - a[upd]) if upd.size else np.empty(0)
            if expand or prune:
                denom = np.maximum(np.maximum(r[upd], a[upd]), 1e-300)
                rel = eu / denom
                movers = np.zeros(N, dtype=bool)
                if expand:
                    movers[upd[rel > D]] = True
                if prune:
                    vaff[upd[rel <= C]] = False
            el = float(eu.max()) if upd.size else 0.0
        r = a
        iters += 1
        step_secs.append(time.time() - t0)
        if el < E:
            break
    return r, iters, step_secs


# ---------------------------------------------------------------------------
# join/agg path (pure DataFrame supersteps; scale-out / oracle)
# ---------------------------------------------------------------------------

def _loop_joinagg(
    graph: "GraphSnapshot", r0: np.ndarray | None, opts: PagerankOptions
) -> tuple[np.ndarray, int, list]:
    """Static/ND supersteps as declarative plans.  Per superstep:
    edges ⋈ ranks (hash on src/v) → groupBy(dst).sum → left join onto the
    vertex range → L∞ agg scalar.  Ranks stay distributed; localCheckpoint
    truncates the iterative lineage."""
    spark = graph.edges.sparkSession
    N = graph.n
    P = opts.damping
    C0 = (1.0 - P) / N
    # weight each edge once with 1/outdeg(src) — J2, broadcast small dim
    ew = (
        graph.edges.join(
            F.broadcast(graph.degrees.withColumnRenamed("v", "src")), "src"
        )
        .select("src", "dst", (F.lit(1.0) / F.col("outdeg")).alias("w"))
        .persist()
    )
    ew.count()
    vertices = spark.range(N).select(F.col("id").alias("v"))
    if r0 is None:
        ranks = vertices.select("v", F.lit(1.0 / N).alias("rank"))
    else:
        ranks = spark.createDataFrame(
            pd.DataFrame({"v": np.arange(N, dtype=np.int64), "rank": r0})
        )
    ranks = ranks.transform(materialize)
    iters = 0
    step_secs: list = []
    while iters < opts.max_iterations:
        t0 = time.time()
        # ranks is a materialized LogicalRDD (no usable size estimate):
        # the explicit executor-resident broadcast keeps ew's partitioning
        # across supersteps instead of reshuffling |E| rows every round
        contrib = (
            ew.join(broadcast_state(ranks.withColumnRenamed("v", "src"), N), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("w")).alias("contrib"))
        )
        new_ranks = (
            vertices.join(contrib.withColumnRenamed("dst", "v"), "v", "left")
            .select(
                "v",
                (F.lit(C0) + F.lit(P) * F.coalesce(F.col("contrib"), F.lit(0.0))).alias("rank"),
            )
            .transform(materialize)
        )
        el = (
            new_ranks.withColumnRenamed("rank", "new_rank")
            .join(broadcast_state(ranks, N), "v")
            .agg(F.max(F.abs(F.col("new_rank") - F.col("rank"))).alias("el"))
            .collect()[0]["el"]
        )
        ranks = new_ranks
        iters += 1
        step_secs.append(time.time() - t0)
        if el < opts.tolerance:
            break
    pdf = ranks.toPandas()
    ew.unpersist()
    out = np.zeros(N, dtype=np.float64)
    out[pdf["v"].to_numpy()] = pdf["rank"].to_numpy()
    return out, iters, step_secs


def pagerank_weighted_joinagg(
    edges_w: DataFrame, n: int, opts: PagerankOptions | None = None
) -> PagerankResult:
    """Weighted pull PageRank over (src, dst, w) — the reference readers
    accept optional weights (mtx.hxx:119 `weighted`); its experiment is
    weightless, so only the scale-out declarative path carries w here:
    a[v] = C0 + P·Σ w_uv·r[u]/wdeg(u), wdeg(u)=Σ_out w.  Dangling mass is
    redistributed (no self-loop injection for weighted graphs)."""
    opts = opts or PagerankOptions()
    t0 = time.time()
    spark = edges_w.sparkSession
    P = opts.damping
    C0 = (1.0 - P) / n
    wdeg = edges_w.groupBy("src").agg(F.sum("w").alias("wdeg"))
    ew = (
        edges_w.join(F.broadcast(wdeg), "src")
        .select("src", "dst", (F.col("w") / F.col("wdeg")).alias("wn"))
        .persist()
    )
    ew.count()
    vertices = spark.range(n).select(F.col("id").alias("v"))
    has_out = wdeg.select(F.col("src").alias("v"))
    dangling = vertices.join(has_out, "v", "left_anti").persist()
    ranks = vertices.select("v", F.lit(1.0 / n).alias("rank")).transform(materialize)
    iters = 0
    steps: list = []
    while iters < opts.max_iterations:
        t1 = time.time()
        dm = (
            ranks.join(dangling, "v", "left_semi").agg(F.sum("rank")).collect()[0][0]
            or 0.0
        )
        contrib = (
            ew.join(broadcast_state(ranks.withColumnRenamed("v", "src"), n), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("wn")).alias("contrib"))
        )
        new_ranks = (
            vertices.join(contrib.withColumnRenamed("dst", "v"), "v", "left")
            .select(
                "v",
                (
                    F.lit(C0)
                    + F.lit(P) * (F.coalesce(F.col("contrib"), F.lit(0.0)) + F.lit(dm / n))
                ).alias("rank"),
            )
            .transform(materialize)
        )
        el = (
            new_ranks.withColumnRenamed("rank", "nr")
            .join(broadcast_state(ranks, n), "v")
            .agg(F.max(F.abs(F.col("nr") - F.col("rank"))))
            .collect()[0][0]
        )
        ranks = new_ranks
        iters += 1
        steps.append(time.time() - t1)
        if el < opts.tolerance:
            break
    pdf = ranks.toPandas()
    ew.unpersist()
    dangling.unpersist()
    out = np.zeros(n, dtype=np.float64)
    out[pdf["v"].to_numpy()] = pdf["rank"].to_numpy()
    return PagerankResult(out, iters, time.time() - t0, superstep_seconds=steps)


def _loop_joinagg_frontier(
    graph: "GraphSnapshot",
    r0: np.ndarray,
    vaff_df: DataFrame,
    opts: PagerankOptions,
    expand: bool = True,
    prune: bool = False,
    corrected: bool = False,
) -> tuple[np.ndarray, int, list]:
    """Dynamic-Frontier supersteps as pure DataFrame plans — the fully
    distributed path where neither ranks nor the frontier ever sit on the
    driver (10^12-vertex regime; driver sees only the L∞ scalar).

    State per superstep: ranks DF, vaff DF (affected ids), movers DF.
    Expansion = movers ⋈ edges on src (J6); affected gather = edges
    semi-joined on dst ∈ vaff (P5); prune = anti join of converged ids.
    Every state DF is localCheckpoint'ed to truncate iterative lineage."""
    spark = graph.edges.sparkSession
    N = graph.n
    P = opts.damping
    C0 = (1.0 - P) / N
    D = opts.frontier_tolerance
    C = opts.prune_tolerance
    ew = (
        graph.edges.join(
            F.broadcast(graph.degrees.withColumnRenamed("v", "src")), "src"
        )
        .select("src", "dst", (F.lit(1.0) / F.col("outdeg")).alias("w"), "outdeg")
        .persist()
    )
    ew.count()
    ranks = spark.createDataFrame(
        pd.DataFrame({"v": np.arange(N, dtype=np.int64), "rank": r0})
    ).transform(materialize)
    vaff = vaff_df.select("v").distinct().transform(materialize)
    vaff_rows = vaff.count()
    movers = spark.createDataFrame(pd.DataFrame({"v": []}).astype("int64"), "v long")
    movers_rows = 0
    iters = 0
    step_secs: list = []
    while iters < opts.max_iterations:
        t0 = time.time()
        # every per-round state frame here is a materialized LogicalRDD
        # (no usable size estimate), so each join hints the state side
        # with its real row count: ew keeps its partitioning across
        # supersteps instead of reshuffling |E| rows per round, and the
        # affected-side frames (<< |V| by the dynamic thesis) build the
        # broadcast.  Past executor residency every hint falls back to
        # the shuffle join.
        if expand:
            # extension (two-phase naff→vaff, pagerankCuda.hxx:686–687)
            ext = ew.join(
                broadcast_state(movers.withColumnRenamed("v", "src"), movers_rows),
                "src",
                "left_semi",
            )
            if prune:
                ext = ext.where(F.col("src") != F.col("dst"))
            ext = ext.select(F.col("dst").alias("v")).distinct()
            vaff = vaff.unionByName(ext).distinct().transform(materialize)
            vaff_rows = vaff.count()
        aff_edges = ew.join(
            broadcast_state(vaff.withColumnRenamed("v", "dst"), vaff_rows),
            "dst",
            "left_semi",
        )
        contrib = (
            aff_edges.join(broadcast_state(ranks.withColumnRenamed("v", "src"), N), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("w")).alias("contrib"))
        )
        upd = broadcast_state(
            vaff.join(contrib.withColumnRenamed("dst", "v"), "v", "left"),
            vaff_rows,
        ).join(ranks, "v")
        if corrected:
            upd = upd.join(
                F.broadcast(graph.degrees), "v"
            ).select(
                "v",
                "rank",
                (
                    (F.lit(C0) + F.lit(P) * (F.coalesce(F.col("contrib"), F.lit(0.0)) - F.col("rank") / F.col("outdeg")))
                    / (F.lit(1.0) - F.lit(P) / F.col("outdeg"))
                ).alias("new_rank"),
            )
        else:
            upd = upd.select(
                "v",
                "rank",
                (F.lit(C0) + F.lit(P) * F.coalesce(F.col("contrib"), F.lit(0.0))).alias("new_rank"),
            )
        upd = upd.withColumn("eu", F.abs(F.col("rank") - F.col("new_rank"))).withColumn(
            "rel",
            F.col("eu") / F.greatest(F.greatest("rank", "new_rank"), F.lit(1e-300)),
        ).transform(materialize)
        el_row = upd.agg(F.max("eu").alias("el")).collect()[0]
        el = el_row["el"] if el_row["el"] is not None else 0.0
        ranks = (
            ranks.join(broadcast_state(upd.select("v", "new_rank"), vaff_rows), "v", "left")
            .select("v", F.coalesce("new_rank", "rank").alias("rank"))
            .transform(materialize)
        )
        if expand:
            movers = upd.where(F.col("rel") > D).select("v").transform(materialize)
            movers_rows = movers.count()
        if prune:
            vaff = vaff.join(
                broadcast_state(upd.where(F.col("rel") <= C).select("v"), vaff_rows),
                "v",
                "left_anti",
            ).transform(materialize)
            vaff_rows = vaff.count()
        iters += 1
        step_secs.append(time.time() - t0)
        if el < opts.tolerance:
            break
    pdf = ranks.toPandas()
    ew.unpersist()
    out = np.zeros(N, dtype=np.float64)
    out[pdf["v"].to_numpy()] = pdf["rank"].to_numpy()
    return out, iters, step_secs


def _frontier_marks_df(
    old: "GraphSnapshot", new: "GraphSnapshot", deletions: DataFrame | None, insertions: DataFrame | None
) -> DataFrame:
    """DF initial marks as a DataFrame (never collected): out-neighbors of
    deletion srcs in OLD graph ∪ insertion srcs in NEW graph."""
    parts = []
    if deletions is not None:
        parts.append(
            old.edges.join(F.broadcast(deletions.select("src").distinct()), "src", "left_semi")
            .select(F.col("dst").alias("v"))
        )
    if insertions is not None:
        parts.append(
            new.edges.join(F.broadcast(insertions.select("src").distinct()), "src", "left_semi")
            .select(F.col("dst").alias("v"))
        )
    spark = new.edges.sparkSession
    out = parts[0] if parts else spark.createDataFrame(pd.DataFrame({"v": []}).astype("int64"), "v long")
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.distinct()


def pagerank_dynamic_frontier_joinagg(
    old: "GraphSnapshot",
    new: "GraphSnapshot",
    deletions: DataFrame | None,
    insertions: DataFrame | None,
    q: np.ndarray,
    opts: PagerankOptions | None = None,
    prune: bool = False,
) -> PagerankResult:
    """DF (prune=False) / DF-P (prune=True) entirely as DataFrame plans."""
    opts = opts or PagerankOptions()
    t0 = time.time()
    vaff_df = _frontier_marks_df(old, new, deletions, insertions)
    q = _adjust_warm_start(q, new.n)
    r, it, steps = _loop_joinagg_frontier(
        new, q, vaff_df, opts, expand=True, prune=prune, corrected=prune
    )
    return PagerankResult(r, it, time.time() - t0, superstep_seconds=steps)


def _traversal_marks_df(
    old: "GraphSnapshot",
    new: "GraphSnapshot",
    deletions: DataFrame | None,
    insertions: DataFrame | None,
) -> DataFrame:
    """DT affected closure as a DataFrame (never collected): BFS in the NEW
    graph from the DF seed marks (pagerank.hxx:543–578) — the scale path
    twin of _traversal_marks, which pulls the closure to the driver."""
    from pagerank_cuda_dynamic_spark.operators.graph import bfs_reachable

    seeds = _frontier_marks_df(old, new, deletions, insertions)
    return bfs_reachable(new.edges, seeds)


def pagerank_dynamic_traversal_joinagg(
    old: "GraphSnapshot",
    new: "GraphSnapshot",
    deletions: DataFrame | None,
    insertions: DataFrame | None,
    q: np.ndarray,
    opts: PagerankOptions | None = None,
) -> PagerankResult:
    """Dynamic-Traversal entirely as DataFrame plans: the affected closure
    stays a distributed DataFrame end to end (10^12-vertex regime)."""
    opts = opts or PagerankOptions()
    t0 = time.time()
    vaff_df = _traversal_marks_df(old, new, deletions, insertions)
    q = _adjust_warm_start(q, new.n)
    r, it, steps = _loop_joinagg_frontier(
        new, q, vaff_df, opts, expand=False, prune=False, corrected=False
    )
    return PagerankResult(r, it, time.time() - t0, superstep_seconds=steps)


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


# ---------------------------------------------------------------------------
# public entry points (pagerank.hxx:455–482, 498–526, 595–628, 680–735;
# pagerankPrune.hxx:284–311)
# ---------------------------------------------------------------------------

def pagerank_static(graph: "GraphSnapshot", opts: PagerankOptions | None = None) -> PagerankResult:
    opts = opts or PagerankOptions()
    t0 = time.time()
    r0 = np.full(graph.n, 1.0 / graph.n, dtype=np.float64)
    if opts.mode == "joinagg":
        r, it, steps = _loop_joinagg(graph, None, opts)
    else:
        r, it, steps = _loop_csr(graph, r0, None, opts)
    return PagerankResult(r, it, time.time() - t0, superstep_seconds=steps)


def pagerank_naive_dynamic(
    graph: "GraphSnapshot", q: np.ndarray, opts: PagerankOptions | None = None
) -> PagerankResult:
    """Warm start from prior ranks q; all vertices affected."""
    opts = opts or PagerankOptions()
    t0 = time.time()
    q = _adjust_warm_start(q, graph.n)
    if opts.mode == "joinagg":
        r, it, steps = _loop_joinagg(graph, q, opts)
    else:
        r, it, steps = _loop_csr(graph, q.copy(), None, opts)
    return PagerankResult(r, it, time.time() - t0, superstep_seconds=steps)


def pagerank_dynamic_traversal(
    old: "GraphSnapshot",
    new: "GraphSnapshot",
    deletions: DataFrame | None,
    insertions: DataFrame | None,
    q: np.ndarray,
    opts: PagerankOptions | None = None,
) -> PagerankResult:
    opts = opts or PagerankOptions()
    t0 = time.time()
    vaff = _traversal_marks(old, new, deletions, insertions)
    tm = time.time() - t0
    q = _adjust_warm_start(q, new.n)
    r, it, steps = _loop_csr(new, q.copy(), vaff, opts)
    return PagerankResult(
        r, it, time.time() - t0, marking_time=tm,
        affected_initial=int(vaff.sum()), superstep_seconds=steps,
    )


def pagerank_dynamic_frontier(
    old: "GraphSnapshot",
    new: "GraphSnapshot",
    deletions: DataFrame | None,
    insertions: DataFrame | None,
    q: np.ndarray,
    opts: PagerankOptions | None = None,
) -> PagerankResult:
    opts = opts or PagerankOptions()
    t0 = time.time()
    vaff = _frontier_marks(old, new, deletions, insertions)
    tm = time.time() - t0
    q = _adjust_warm_start(q, new.n)
    r, it, steps = _loop_csr(new, q.copy(), vaff, opts, expand=True)
    return PagerankResult(
        r, it, time.time() - t0, marking_time=tm,
        affected_initial=int(vaff.sum()), superstep_seconds=steps,
    )


def pagerank_dynamic_frontier_prune(
    old: "GraphSnapshot",
    new: "GraphSnapshot",
    deletions: DataFrame | None,
    insertions: DataFrame | None,
    q: np.ndarray,
    opts: PagerankOptions | None = None,
) -> PagerankResult:
    opts = opts or PagerankOptions()
    t0 = time.time()
    vaff = _frontier_marks(old, new, deletions, insertions)
    tm = time.time() - t0
    q = _adjust_warm_start(q, new.n)
    r, it, steps = _loop_csr(
        new, q.copy(), vaff, opts, corrected=True, expand=True, prune=True
    )
    return PagerankResult(
        r, it, time.time() - t0, marking_time=tm,
        affected_initial=int(vaff.sum()), superstep_seconds=steps,
    )


def _adjust_warm_start(q: np.ndarray, n: int) -> np.ndarray:
    """Resize prior ranks to the new vertex span; new vertices start at 0
    (pagerankInitializeRanksFrom semantics: absent→0, pagerank.hxx:290)."""
    q = np.asarray(q, dtype=np.float64)
    if q.size == n:
        return q
    out = np.zeros(n, dtype=np.float64)
    out[: min(q.size, n)] = q[: min(q.size, n)]
    return out
