"""Graph-structural operators (SURVEY.md §2.6) as DataFrame plans.

Edge tables are dense-id (src:long, dst:long[, extra]) DataFrames, deduped.
Each operator returns a new DataFrame — graph mutation is snapshotting
(duplicate.hxx:86–101 ≡ DataFrame immutability).
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame



def transpose(edges: DataFrame) -> DataFrame:
    """Reverse all edges (transpose.hxx:16–65).  A projection — no shuffle
    until a downstream op repartitions on the new key."""
    others = [c for c in edges.columns if c not in ("src", "dst")]
    return edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), *others
    )


def symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected view: edges ∪ reverse, deduped (symmetrize.hxx:14–82).
    Basis for CC / LPA / triangle counting."""
    e = edges.select("src", "dst")
    return e.unionByName(transpose(e)).distinct()


def add_self_loops(edges: DataFrame, vertices: DataFrame) -> DataFrame:
    """Self-loop on EVERY vertex — the reference's dead-end elimination
    (selfLoop.hxx:33–79, invoked for all vertices at main.cu:169).  Turns
    the per-iteration global dangling-mass reduction into a one-time graph
    transform; the semantic cornerstone of the rank update (SURVEY §4.2).

    `vertices` must have column v."""
    loops = vertices.select(F.col("v").alias("src"), F.col("v").alias("dst"))
    return edges.select("src", "dst").unionByName(loops).distinct()


def out_degrees(edges: DataFrame) -> DataFrame:
    """(v, outdeg) — the vertex value of the transposed graph
    (transposeWithDegree, transpose.hxx:79–100): the divisor of the pull
    update.  Computed once per graph snapshot, then broadcast."""
    return edges.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )


def self_loop_count(edges: DataFrame) -> DataFrame:
    """Count of (u,u) edges (selfLoop.hxx:15–19)."""
    return edges.where(F.col("src") == F.col("dst")).agg(
        F.count(F.lit(1)).alias("n_self_loops")
    )


def _collect_batch(
    deletions: DataFrame, insertions: DataFrame, limit: int | None = None
) -> pd.DataFrame:
    """Both sides of a batch as one pandas frame (src, dst, is_del), in one
    Spark job: a union of the two sides, each capped at `limit` rows when
    given."""
    sides = [
        df.select("src", "dst", F.lit(flag).alias("is_del"))
        for df, flag in ((deletions, True), (insertions, False))
    ]
    if limit is not None:
        sides = [df.limit(limit) for df in sides]
    return sides[0].unionByName(sides[1]).toPandas()


def _batch_probe(edges: DataFrame, pairs: DataFrame) -> DataFrame:
    """The rows of `edges` whose (src, dst) is one of `pairs` (the hasEdge
    probe, batch.hxx:153–160).  Oriented for scale: ONE pass over the
    (huge) edge table with the (small) pairs broadcast — never a plan that
    must build or shuffle the edge side."""
    on = ["src", "dst"]
    return edges.select(on).join(F.broadcast(pairs.select(on)), on, "left_semi")


def tidy_batch(
    edges: DataFrame, deletions: DataFrame, insertions: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Batch hygiene (tidyBatchUpdateU, batch.hxx:201–208): keep the
    deletions that EXIST in `edges` and the insertions that DON'T, both
    deduped and both taken against this (old) edge set — an edge in
    D ∩ I ∩ E is deleted and not re-inserted.  Sorting (O1) is unnecessary
    in the set-semantics DataFrame world.

    Premise: the batch fits the driver (the probe broadcasts it anyway).
    The raw batch is collected once, the edge table is probed once
    (_batch_probe), and the set algebra runs in pandas.  The two returned
    frames are built on the driver as single partitions, so materializing
    them never re-reads `edges`.

    Raises ValueError when a batch edge has a null src or dst."""
    on = ["src", "dst"]
    spark = edges.sparkSession
    pdf = _collect_batch(deletions, insertions)
    bad = int(pdf[on].isna().any(axis=1).sum())
    if bad:
        raise ValueError(f"batch has {bad} edge(s) with a null src or dst")
    pairs = pdf[on].drop_duplicates()
    if len(pairs):
        probe = _batch_probe(edges, spark.createDataFrame(pairs))
        hits = pd.MultiIndex.from_frame(probe.toPandas())
    else:
        hits = pd.MultiIndex.from_frame(pairs)
    is_del = pdf["is_del"].to_numpy(bool)
    d = pdf.loc[is_del, on].drop_duplicates()
    i = pdf.loc[~is_del, on].drop_duplicates()
    d = d[pd.MultiIndex.from_frame(d).isin(hits)]
    i = i[~pd.MultiIndex.from_frame(i).isin(hits)]
    # one partition each: a limit() over the frame (delta_pack's per-side
    # cap) then needs no shuffle, which would cost a job per side
    return (
        spark.createDataFrame(d, deletions.select(on).schema).coalesce(1),
        spark.createDataFrame(i, insertions.select(on).schema).coalesce(1),
    )


def apply_batch(
    edges: DataFrame, deletions: DataFrame, insertions: DataFrame
) -> DataFrame:
    """applyBatchUpdateU (batch.hxx:222–247): remove deletions, add
    insertions.  Deletion side is an anti join (deletions are a small DF —
    Catalyst broadcasts it); insertions appended + dedup."""
    on = ["src", "dst"]
    kept = edges.join(F.broadcast(deletions.select(on)), on, "left_anti")
    return kept.select(on).unionByName(insertions.select(on)).distinct()


def bfs_reachable(edges: DataFrame, seeds: DataFrame, max_rounds: int = 10**9) -> DataFrame:
    """Multi-source level-synchronous BFS closure (bfs.hxx:22–55; the
    Dynamic-Traversal marking loop shape, pagerankCuda.hxx:439–456):
    visited ∪= frontier ⋈ edges until the visited count reaches fixpoint
    (countValuesInplaceCuW analog = .count()).

    Returns distinct visited vertex ids (column v) including the seeds.
    Each round localCheckpoints to truncate lineage (iterative plans grow
    exponentially otherwise)."""
    from pagerank_cuda_dynamic_spark.plans.barrier import (  # lazy: plans ↔ operators cycle
        broadcast_state,
        loop_partitions,
        materialize,
    )

    spark = edges.sparkSession
    # the per-level expansion probes the edge table once per round: cache
    # a local projection so levels re-read cached blocks instead of
    # re-running the caller's (possibly join-heavy) derivation per level
    e = edges.select("src", "dst").persist()
    visited = seeds.select("v").distinct().transform(materialize)
    frontier = visited
    n = visited.count()
    n_front = n
    rounds = 0
    while rounds < max_rounds:
        # frontier/visited broadcast into the edge join while they stay
        # executor-resident (exact counts come free from the fixpoint
        # check), so the edge table never reshuffles per level.  The
        # level's shuffles (the expansion distinct) are sized per round
        # from the frontier: expansion ≈ n_front · avg-degree rows (32 is
        # the proxy factor; the clamp at the session setting makes any
        # over-estimate a no-op).
        with loop_partitions(spark, max(n_front * 32, n)):
            bfront = broadcast_state(frontier, n_front)
            nxt = (
                bfront.join(e, bfront.v == e.src)
                .select(F.col("dst").alias("v"))
                .distinct()
                .join(broadcast_state(visited, n), "v", "left_anti")
                .transform(materialize)
            )
            n_new = nxt.count()
            if n_new == 0:
                break
            visited = visited.unionByName(nxt).transform(materialize)
        frontier = nxt
        n_front = n_new
        n += n_new
        rounds += 1
    e.unpersist()
    return visited


def multi_source_distances(
    edges: DataFrame, sources: DataFrame, max_depth: int = 10**9
) -> DataFrame:
    """Exact hop distances from EVERY source at once: one level-synchronous
    BFS whose visited set is keyed (s, v) — the multi-source generalization
    of bfs_reachable above (same frontier/visited loop; the reference's
    G6 shape), not |S| sequential BFS runs.  Returns (s, v, dist) for every
    reachable pair, dist 0 for the source itself.

    Each round is one frontier ⋈ edges shuffle + a 2-key anti-join; rounds
    = eccentricity bound (≤ max_depth).  sources: 1-column DataFrame."""
    from pagerank_cuda_dynamic_spark.plans.barrier import (  # lazy: plans ↔ operators cycle
        broadcast_state,
        loop_partitions,
        materialize,
    )

    spark = edges.sparkSession
    # cached: every level probes this table; without the persist each
    # round would re-run the caller's full edge derivation + distinct
    e = edges.select("src", "dst").distinct().persist()
    visited = (
        sources.toDF("s")
        .distinct()
        .select("s", F.col("s").alias("v"), F.lit(0).alias("dist"))
        .transform(materialize)
    )
    frontier = visited
    n_front = n_vis = visited.count()
    depth = 0
    while depth < max_depth:
        depth += 1
        # per-level shuffle sizing from the frontier (see bfs_reachable)
        with loop_partitions(spark, max(n_front * 32, n_vis)):
            bfront = broadcast_state(frontier, n_front)
            nxt = (
                bfront.join(e, bfront.v == e.src)
                .select("s", F.col("dst").alias("v"))
                .distinct()
                .join(broadcast_state(visited, n_vis), ["s", "v"], "left_anti")
                .withColumn("dist", F.lit(depth))
                .transform(materialize)
            )
            n_new = nxt.count()
            if n_new == 0:
                break
            visited = visited.unionByName(nxt).transform(materialize)
        frontier = nxt
        n_front = n_new
        n_vis += n_new
    e.unpersist()
    return visited


def harmonic_centrality(
    edges: DataFrame, sources: DataFrame, max_depth: int = 10**9
) -> DataFrame:
    """Source-sampled harmonic centrality: C_H(v) = Σ_{s ∈ S, s≠v}
    1/dist(s, v) over the given source set (the standard scalable
    estimator — exact when S = V; unreachable pairs contribute 0 by
    harmonic convention, which is why harmonic beats closeness on
    disconnected graphs).  One multi_source_distances pass + one
    aggregate."""
    d = multi_source_distances(edges, sources, max_depth)
    return (
        d.where(F.col("dist") > 0)
        .groupBy("v")
        .agg(F.sum(F.lit(1.0) / F.col("dist")).alias("harmonic"))
    )


def closeness_centrality(
    edges: DataFrame, sources: DataFrame, max_depth: int = 10**9
) -> DataFrame:
    """Source-sampled closeness: C(v) = |S_v| / Σ_{s∈S_v} dist(s, v)
    where S_v = sources that reach v (dist > 0) — the reciprocal of the
    average observed distance INTO v.  Exact when S = V; under sampling
    it is the standard plug-in estimator.  One multi_source_distances
    closure + one aggregate; unreachable pairs simply don't contribute
    (use harmonic_centrality when disconnectedness should penalize).
    Returns (v, n_reached, closeness)."""
    d = multi_source_distances(edges, sources, max_depth)
    return (
        d.where(F.col("dist") > 0)
        .groupBy("v")
        .agg(
            F.count(F.lit(1)).alias("n_reached"),
            (F.count(F.lit(1)) / F.sum("dist")).alias("closeness"),
        )
    )


def reciprocity(edges: DataFrame) -> DataFrame:
    """Fraction of directed (non-self, deduped) edges whose reverse edge
    also exists — link-graph mutuality (≈0 for the web, high for social
    graphs).  One self-semi-join + two counts; returns one row
    (n_edges, n_reciprocal, reciprocity)."""
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .persist()
    )
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    stats = (
        e.join(rev, ["src", "dst"], "left_semi")
        .agg(F.count(F.lit(1)).alias("n_reciprocal"))
        .crossJoin(e.agg(F.count(F.lit(1)).alias("n_edges")))
        .select(
            "n_edges",
            "n_reciprocal",
            (F.col("n_reciprocal") / F.col("n_edges")).alias("reciprocity"),
        )
    )
    out = stats.collect()[0]
    e.unpersist()
    rec = 0.0 if out["n_edges"] == 0 else float(out["reciprocity"])
    return edges.sparkSession.createDataFrame(
        [(out["n_edges"], out["n_reciprocal"], rec)],
        "n_edges long, n_reciprocal long, reciprocity double",
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Newman's degree assortativity r on the simple undirected graph:
    the Pearson correlation of (deg(u), deg(v)) over all ORDERED edge
    endpoint pairs (each undirected edge contributes both directions, so
    r is symmetric by construction).  Computed from the five sufficient
    moments (Σx, Σy, Σxy, Σx², Σy², m) in ONE aggregate over the
    symmetrized edge set — no correlation built-in, so the SQL oracle is
    the same arithmetic to the last bit.  Returns one row (m, r)."""
    und = (
        symmetrize(edges)
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .persist()
    )
    deg = und.groupBy(F.col("src").alias("v")).agg(F.count(F.lit(1)).alias("d"))
    j = (
        und.join(deg.withColumnRenamed("v", "src").withColumnRenamed("d", "dx"), "src")
        .join(deg.withColumnRenamed("v", "dst").withColumnRenamed("d", "dy"), "dst")
    )
    mo = j.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    ).collect()[0]
    und.unpersist()
    m = mo["m"]
    if m == 0:
        return edges.sparkSession.createDataFrame([(0, 0.0)], "m long, r double")
    num = mo["sxy"] / m - (mo["sx"] / m) * (mo["sy"] / m)
    denx = mo["sxx"] / m - (mo["sx"] / m) ** 2
    deny = mo["syy"] / m - (mo["sy"] / m) ** 2
    r = num / (denx**0.5 * deny**0.5) if denx > 0 and deny > 0 else 0.0
    return edges.sparkSession.createDataFrame(
        [(int(m), float(r))], "m long, r double"
    )


def avg_neighbor_degree(edges: DataFrame) -> DataFrame:
    """Per-vertex mean degree of undirected neighbors, knn(v) — the
    vertex-level view of assortativity (slope of knn vs d(v) has r's
    sign).  One degree aggregate + one edge join + one average.
    Returns (v, d, knn)."""
    und = (
        symmetrize(edges)
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .persist()
    )
    deg = und.groupBy(F.col("src").alias("v")).agg(F.count(F.lit(1)).alias("d")).persist()
    knn = (
        und.join(deg.withColumnRenamed("v", "dst").withColumnRenamed("d", "dn"), "dst")
        .groupBy(F.col("src").alias("v"))
        .agg(F.avg("dn").alias("knn"))
    )
    out = deg.join(knn, "v").select("v", "d", "knn")
    from pagerank_cuda_dynamic_spark.plans.barrier import materialize

    out = materialize(out)
    und.unpersist()
    deg.unpersist()
    return out


def maximal_independent_set(
    edges: DataFrame,
    priority_hash=None,
    max_rounds: int = 32,
) -> DataFrame:
    """Maximal independent set by Luby's algorithm with HASH priorities —
    deterministic (no RNG: priority(v) = hash(v), ties impossible modulo
    hash collisions, broken by vertex id), O(log n) rounds w.h.p.

    Per round, over the LIVE subgraph: v enters the MIS iff
    (hash(v), v) < min over live neighbors u of (hash(u), u); the MIS
    vertices and all their neighbors then leave the live set.  Every
    round is one edges⋈live semi-filter + one neighbor-min aggregate —
    labels never touch the driver; the frontier shrinks geometrically.

    Returns (v, mis:boolean) for every vertex of the undirected simple
    view.  priority_hash defaults to xxhash64; pass an md5-derived column
    fn for cross-engine oracles."""
    from pagerank_cuda_dynamic_spark.plans.barrier import broadcast_state, materialize

    if priority_hash is None:
        priority_hash = F.xxhash64
    spark = edges.sparkSession
    p = spark.sparkContext.defaultParallelism
    simple = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )
    und = (
        simple.unionByName(
            simple.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .repartition(p, "src")
        .persist()
    )
    und.count()
    verts = (
        und.select(F.col("src").alias("v"))
        .distinct()
        .select("v", priority_hash(F.col("v")).alias("h"))
        .transform(materialize)
    )
    n_verts = verts.count()
    live = verts
    chosen = None
    for _ in range(max_rounds):
        if live.isEmpty():
            break
        # live/winner frames (≤|V| rows) broadcast into every und join,
        # so the persisted edge table never reshuffles per round
        blive = broadcast_state(live, n_verts)
        e_live = (
            und.join(blive.select(F.col("v").alias("src")), "src", "left_semi")
            .join(blive.select(F.col("v").alias("dst")), "dst", "left_semi")
        )
        nbr_min = (
            e_live.join(
                blive.select(
                    F.col("v").alias("dst"),
                    F.col("h").alias("nh"),
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("v"))
            .agg(F.min(F.struct("nh", "dst")).alias("m"))
        )
        winners = (
            live.join(broadcast_state(nbr_min, n_verts), "v", "left")
            .where(
                F.col("m").isNull()
                | (F.struct(F.col("h"), F.col("v")) < F.struct("m.nh", "m.dst"))
            )
            .select("v")
            .transform(materialize)
        )
        chosen = winners if chosen is None else chosen.unionByName(winners)
        # remove winners and their neighbors from the live set
        nbrs = und.join(
            broadcast_state(winners.withColumnRenamed("v", "src"), n_verts),
            "src",
            "left_semi",
        ).select(F.col("dst").alias("v")).distinct()
        gone = winners.unionByName(nbrs).distinct()
        live = live.join(broadcast_state(gone, n_verts), "v", "left_anti").transform(
            materialize
        )
    if not live.isEmpty():
        # Mirror jp_coloring: a truncated run would silently break the
        # "maximal" contract (callers rely on every vertex being decided).
        raise RuntimeError(
            "maximal_independent_set: live vertices remain after "
            f"max_rounds={max_rounds}; raise the cap (pathological "
            "decreasing-priority hash chain)"
        )
    mis = chosen if chosen is not None else verts.limit(0).select("v")
    return verts.select("v").join(
        mis.select("v", F.lit(True).alias("mis")), "v", "left"
    ).select("v", F.coalesce("mis", F.lit(False)).alias("mis"))


def jp_coloring(
    edges: DataFrame,
    priority_hash=None,
    max_rounds: int = 64,
) -> DataFrame:
    """Greedy distance-1 graph coloring by Jones–Plassmann with hash
    priorities: color(v) = the round in which v is a LOCAL MINIMUM of
    (hash, id) among its still-uncolored neighbors — i.e. repeated Luby
    MIS layers, each layer one color class.  Deterministic; proper by
    construction (two adjacent vertices can never win the same round —
    their (hash, id) keys are totally ordered).

    Per round: same two shuffles as maximal_independent_set.  Returns
    (v, color:int) with colors 0..r-1; raises if max_rounds is hit with
    uncolored vertices left (pathological hash chains — raise the cap)."""
    from pagerank_cuda_dynamic_spark.plans.barrier import broadcast_state, materialize

    if priority_hash is None:
        priority_hash = F.xxhash64
    spark = edges.sparkSession
    p = spark.sparkContext.defaultParallelism
    simple = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )
    und = (
        simple.unionByName(
            simple.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .repartition(p, "src")
        .persist()
    )
    und.count()
    live = (
        und.select(F.col("src").alias("v"))
        .distinct()
        .select("v", priority_hash(F.col("v")).alias("h"))
        .transform(materialize)
    )
    n_verts = live.count()
    colored = None
    for t in range(max_rounds):
        if live.isEmpty():
            und.unpersist()
            if colored is None:
                return spark.createDataFrame([], "v string, color int")
            return colored
        # live/winner frames broadcast into every und join (≤|V| rows),
        # so the persisted edge table never reshuffles per round
        blive = broadcast_state(live, n_verts)
        e_live = (
            und.join(blive.select(F.col("v").alias("src")), "src", "left_semi")
            .join(blive.select(F.col("v").alias("dst")), "dst", "left_semi")
        )
        nbr_min = (
            e_live.join(
                blive.select(F.col("v").alias("dst"), F.col("h").alias("nh")), "dst"
            )
            .groupBy(F.col("src").alias("v"))
            .agg(F.min(F.struct("nh", "dst")).alias("m"))
        )
        winners = (
            live.join(broadcast_state(nbr_min, n_verts), "v", "left")
            .where(
                F.col("m").isNull()
                | (F.struct(F.col("h"), F.col("v")) < F.struct("m.nh", "m.dst"))
            )
            .select("v", F.lit(t).cast("int").alias("color"))
            .transform(materialize)
        )
        colored = winners if colored is None else colored.unionByName(winners)
        live = live.join(broadcast_state(winners.select("v"), n_verts), "v", "left_anti").transform(
            materialize
        )
    und.unpersist()
    raise RuntimeError(f"jp_coloring did not finish in {max_rounds} rounds")


def pseudo_diameter(edges: DataFrame, max_depth: int = 32) -> DataFrame:
    """Double-sweep pseudo-diameter of the undirected graph (Magnien,
    Latapy & Habib 2009): BFS from the smallest vertex id, jump to the
    farthest vertex found (ties → smallest id), BFS again — the second
    eccentricity is the classic diameter LOWER bound every web-graph
    study reports (exact on trees; within a small factor in practice,
    and far cheaper than all-pairs).

    Determinism contract: both pivots are deterministic (min id; then
    max dist with min-id tie-break), so the whole statistic is a pure
    function of the graph and a fixed-unroll SQL oracle can replay it.
    `max_depth` caps both sweeps (part of the contract, betweenness'
    cap rule); a cap ≥ the true eccentricities leaves the result exact.
    Disconnected graphs: the sweep measures the start vertex's
    component — the standard convention.

    Scale posture: two level-synchronous BFS closures (multi_source_
    distances — one frontier⋈edges shuffle + a 2-key anti-join per
    level) plus three 1-row driver scalars (the pivot ids and the
    final maxima — bowtie_decomposition's largest-SCC pattern, not a
    per-vertex collect).

    Returns ONE row (start_v, far_v, ecc_start, diameter_lb).
    """
    spark = edges.sparkSession
    # cached once: both BFS sweeps and the pivot scalar read this table
    # (uncached, each of them would re-run the symmetrize + upstream
    # edge derivation)
    und = symmetrize(edges).where(F.col("src") != F.col("dst")).persist()
    verts = (
        und.select(F.col("src").alias("v"))
        .unionByName(und.select(F.col("dst").alias("v")))
        .distinct()
    )
    u0 = verts.agg(F.min("v").alias("v")).collect()[0]["v"]
    d0 = multi_source_distances(und, spark.createDataFrame([(u0,)], ["s"]), max_depth)
    far = d0.agg(
        F.min(
            F.struct((-F.col("dist")).alias("nd"), F.col("v").alias("v"))
        ).alias("w")
    ).collect()[0]["w"]
    ecc0, u1 = -far["nd"], far["v"]
    d1 = multi_source_distances(und, spark.createDataFrame([(u1,)], ["s"]), max_depth)
    ecc1 = d1.agg(F.max("dist").alias("m")).collect()[0]["m"]
    und.unpersist()
    # schema inferred so integer- and string-vertex graphs both work
    return spark.createDataFrame(
        [(u0, u1, int(ecc0), int(ecc1))],
        ["start_v", "far_v", "ecc_start", "diameter_lb"],
    )


def degree_powerlaw(edges: DataFrame, d_min: int = 2) -> DataFrame:
    """Continuous-approximation MLE of the power-law degree exponent
    (Clauset, Shalizi & Newman 2009, eq. 3.1): over the undirected
    simple graph's vertices with degree ≥ d_min,

        α̂ = 1 + n_tail / Σ ln(d_i / (d_min − 1/2)),

    the standard "is this graph scale-free, and how heavy is the tail"
    statistic of web-graph studies (the reference's crawl graphs are the
    canonical α ≈ 2.1 examples).  The half-shift is CSN's discrete
    correction.

    Scale posture: one degree count + ONE aggregate shipping two scalars
    (n_tail, Σln) — the degree_assortativity pattern; ln() agreement is
    the adamic_adar 6-dp regime.  Returns one row
    (n_vertices, n_tail, d_min, alpha).
    """
    und = (
        symmetrize(edges)
        .where(F.col("src") != F.col("dst"))
        .where(F.col("src") < F.col("dst"))
    )
    deg = (
        und.select(F.col("src").alias("v"))
        .unionByName(und.select(F.col("dst").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    tail = F.col("d") >= d_min
    return deg.agg(
        F.count(F.lit(1)).alias("n_vertices"),
        F.sum(tail.cast("long")).alias("n_tail"),
        F.lit(d_min).cast("long").alias("d_min"),
        F.round(
            1.0
            + F.sum(tail.cast("long"))
            / F.sum(
                F.when(tail, F.log(F.col("d") / (d_min - 0.5))).otherwise(F.lit(0.0))
            ),
            6,
        ).alias("alpha"),
    )


def maximal_matching(
    edges: DataFrame,
    priority_hash=None,
    max_rounds: int = 48,
    weight_col: str | None = None,
) -> DataFrame:
    """Greedy maximal matching with hash priorities — the EDGE analog of
    Luby MIS (Israeli–Itai shape): per round, over the LIVE canonical
    edge set, edge e=(a,b) joins the matching iff its key
    (hash('a|b'), a, b) is the minimum among live edges incident to a
    AND among those incident to b; both endpoints of a matched edge
    then leave.  Deterministic (no RNG), and the globally minimal live
    edge is a local minimum at both of its endpoints, so every round
    matches ≥1 edge; with hash priorities the live set shrinks
    geometrically (O(log n) rounds w.h.p.).

    With `weight_col` (an INTEGER edge weight — callers pre-scale
    floats, e.g. round(jaccard·10⁶), so priorities are exact on any
    engine) the key becomes (−w, hash, a, b): each round matches
    locally-HEAVIEST edges first — Preis's local-max algorithm, a
    deterministic ½-approximation of maximum weight matching.  Rows
    collapsing onto one canonical pair keep their max weight.

    Per round: one incident-explode + min aggregate (≤2·|live| rows)
    and two broadcast-hinted joins back — the persisted frames are all
    O(|live|); nothing touches the driver but the isEmpty scalar.

    Returns (src, dst, matched:boolean) over the canonical (src<dst)
    undirected simple edge set.  Raises if max_rounds is exhausted with
    live edges remaining (mirrors maximal_independent_set — a silently
    non-maximal matching would break callers).  No reference
    counterpart (the reference has no matching operator); this extends
    the Luby-family local-minimum selection of
    maximal_independent_set to edges for pipeline tasks like
    one-to-one near-duplicate pairing.
    """
    from pagerank_cuda_dynamic_spark.plans.barrier import broadcast_state, materialize

    if priority_hash is None:
        priority_hash = F.xxhash64
    cols = ["src", "dst"] + ([weight_col] if weight_col else [])
    simple = (
        edges.select(*cols)
        .where(F.col("src") != F.col("dst"))
    )
    canon = simple.select(
        F.least("src", "dst").alias("src"),
        F.greatest("src", "dst").alias("dst"),
        *([F.col(weight_col).cast("long").alias("w")] if weight_col else []),
    )
    if weight_col:
        canon = canon.groupBy("src", "dst").agg(F.max("w").alias("w"))
    else:
        canon = canon.dropDuplicates(["src", "dst"])
    key_cols = (["nw"] if weight_col else []) + ["h", "src", "dst"]
    canon = canon.select(
        "*",
        priority_hash(F.concat_ws("|", F.col("src"), F.col("dst"))).alias("h"),
        *([(-F.col("w")).alias("nw")] if weight_col else []),
    ).transform(materialize)
    n_edges = canon.count()
    live = canon
    matched = None
    for _ in range(max_rounds):
        if live.isEmpty():
            break
        sel = [F.col("src").alias("v")] + key_cols
        incident = live.select(*sel).unionByName(
            live.select(F.col("dst").alias("v"), *key_cols)
        )
        vmin = incident.groupBy("v").agg(F.min(F.struct(*key_cols)).alias("m"))
        bmin = broadcast_state(vmin, 2 * n_edges)
        key = F.struct(*key_cols)
        winners = (
            live.join(bmin.select(F.col("v").alias("src"), F.col("m").alias("ms")), "src")
            .join(bmin.select(F.col("v").alias("dst"), F.col("m").alias("md")), "dst")
            .where((key == F.col("ms")) & (key == F.col("md")))
            .select("src", "dst")
            .transform(materialize)
        )
        matched = winners if matched is None else matched.unionByName(winners)
        gone = (
            winners.select(F.col("src").alias("v"))
            .unionByName(winners.select(F.col("dst").alias("v")))
            .distinct()
        )
        bgone = broadcast_state(gone, n_edges)
        live = (
            live.join(bgone.withColumnRenamed("v", "src"), "src", "left_anti")
            .join(bgone.withColumnRenamed("v", "dst"), "dst", "left_anti")
            .transform(materialize)
        )
    if not live.isEmpty():
        raise RuntimeError(
            "maximal_matching: live edges remain after "
            f"max_rounds={max_rounds}; raise the cap (pathological "
            "decreasing-priority hash chain)"
        )
    out = canon.select("src", "dst")
    if matched is None:
        return out.select("src", "dst", F.lit(False).alias("matched"))
    return out.join(
        matched.select("src", "dst", F.lit(True).alias("matched")),
        ["src", "dst"],
        "left",
    ).select("src", "dst", F.coalesce("matched", F.lit(False)).alias("matched"))


def topological_levels(
    edges: DataFrame,
    max_rounds: int = 64,
) -> DataFrame:
    """Kahn-peel DAG layering: level(v) = the peel round in which v's
    live in-degree reaches 0 — equivalently the longest directed path
    from any source to v.  The classic dependency-scheduling layering
    (build stages, dataflow waves); on the entity graph it recovers the
    c→p→s→n→r stratification.

    Per round: one live⋈live semi-join marks vertices that still have a
    live predecessor; everything else peels at this round's level.  All
    frames are O(|live|) and shrink monotonically; only the isEmpty
    scalar reaches the driver.  Self-loops are DROPPED up front (the
    family convention — mis/matching/k-core do the same); a structural
    1-cycle should be encoded as a real 2-cycle if it must fail.

    Raises on cycles — detected EXACTLY, not by cap: a round that peels
    nothing while vertices remain means every live vertex has a live
    predecessor, i.e. the live subgraph contains a cycle.  Raises on
    max_rounds exhaustion too (longest path deeper than the cap —
    mirrors maximal_independent_set; silent truncation would break
    callers).  Returns (v, level:int).
    """
    from pagerank_cuda_dynamic_spark.plans.barrier import broadcast_state, materialize

    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
        .transform(materialize)
    )
    n_edges = e.count()
    live = (
        e.select(F.col("src").alias("v"))
        .union(e.select(F.col("dst").alias("v")))
        .distinct()
        .transform(materialize)
    )
    levels = None
    for r in range(max_rounds):
        if live.isEmpty():
            break
        # vertices with a LIVE predecessor stay; the rest peel at level r
        fed = (
            e.join(broadcast_state(live.withColumnRenamed("v", "src"), n_edges), "src")
            .select(F.col("dst").alias("v"))
            .distinct()
        )
        peeled = live.join(fed, "v", "left_anti").transform(materialize)
        if peeled.isEmpty():
            raise ValueError(
                "topological_levels: no vertex has in-degree 0 among "
                "the remaining live set — the graph contains a cycle"
            )
        lv = peeled.select("v", F.lit(r).alias("level"))
        levels = lv if levels is None else levels.unionByName(lv)
        live = live.join(peeled, "v", "left_anti").transform(materialize)
    if not live.isEmpty():
        raise RuntimeError(
            f"topological_levels: max_rounds={max_rounds} exhausted with "
            "live vertices remaining; the longest path exceeds the cap"
        )
    if levels is None:
        return e.select(F.col("src").alias("v"), F.lit(0).alias("level")).limit(0)
    return levels.select("v", F.col("level").cast("int").alias("level"))


def temporal_reachability(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 8,
    seq_col: str = "seq",
) -> DataFrame:
    """Earliest-arrival time-respecting reachability over a
    sequence-stamped edge stream — the information-diffusion closure of
    temporal-graph analysis (Holme & Saramäki): arrival(v) = min, over
    time-respecting paths of at most `max_hops` edges (edge stamps
    NON-DECREASING along the path), of the last edge's stamp.  Seeds
    start before everything (arrival = −1, so every outgoing edge is
    usable); unreached vertices are absent from the output.

    Label-correcting rounds expanding only improved labels: smaller
    arrivals strictly dominate (every edge usable from a later arrival
    is usable from an earlier one), so per-vertex min labels lose no
    reachable arrival, and `max_hops` rounds cover exactly the ≤
    max_hops-edge paths — the fixed hop cap is the contract (the
    unrolled/bounded SQL oracle agrees unconditionally).

    Per round: one edges⋈frontier broadcast-hinted join filtered by
    seq ≥ arrival + one dst-keyed min + one anti-join merge — frames are
    O(|improved|); only the improvement count reaches the driver.

    Returns (v, arrival:long), seeds at −1.
    """
    from pagerank_cuda_dynamic_spark.plans.barrier import broadcast_state, materialize

    e = (
        edges.select("src", "dst", F.col(seq_col).cast("long").alias("seq"))
        .dropDuplicates(["src", "dst", "seq"])
        .transform(materialize)
    )
    n_edges = e.count()
    best = (
        seeds.toDF("v")
        .distinct()
        .select("v", F.lit(-1).cast("long").alias("arrival"))
        .transform(materialize)
    )
    n_frontier = best.count()
    if n_frontier == 0:
        raise ValueError("temporal_reachability: seeds must be non-empty")
    frontier = best
    for _ in range(max_hops):
        cand = (
            e.join(
                broadcast_state(
                    frontier.withColumnRenamed("v", "src"), n_frontier
                ),
                "src",
            )
            .where(F.col("seq") >= F.col("arrival"))
            .groupBy(F.col("dst").alias("v"))
            .agg(F.min("seq").alias("cand"))
        )
        improved = (
            cand.join(best, "v", "left")
            .where(F.col("arrival").isNull() | (F.col("cand") < F.col("arrival")))
            .select("v", F.col("cand").alias("arrival"))
            .transform(materialize)
        )
        n_frontier = improved.count()
        if n_frontier == 0:
            break
        best = (
            best.join(improved.select("v"), "v", "left_anti")
            .unionByName(improved)
            .transform(materialize)
        )
        frontier = improved
    return best
