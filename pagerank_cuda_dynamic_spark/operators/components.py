"""Companion graph algorithms the north star requires: connected components,
label propagation, triangle count, modularity (anchored by the reference's
community helpers, properties.hxx:123–401).

Connected components and LPA have two engines, one per platform:

* operators/components_bsp.py (`connected_components_bsp`,
  `label_propagation_bsp`): dense ids in [0, n), one barrier stage (one
  Spark job on a persisted input) whose tasks share labels through memmaps
  on one node.  It is the engine the benchmark measures.
* `connected_components_joinagg` / `label_propagation_joinagg` here: plain
  join/aggregate rounds, so labels never sit on the driver and no shared
  filesystem is needed.  It stays because it is the only CC/LPA path for a
  shared-nothing cluster and the only one that takes sparse or string ids
  (`vertices=`), which `dedup_clusters` and the dynamic CC operators below
  rely on.  A round costs a few Spark jobs and min-label needs O(diameter)
  rounds.

Both produce the same labels: component = min member id; LPA = the most
frequent neighbour label, ties to the smallest (tests/oracle.py).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from pagerank_cuda_dynamic_spark.plans.barrier import broadcast_state, materialize

from pagerank_cuda_dynamic_spark.operators.graph import symmetrize


def _und_src(edges: DataFrame) -> DataFrame:
    """Src-partitioned undirected simple view built with ONE |E| shuffle:
    the directed view is materialized once (the symmetrize union reads it
    twice — a lazy frame re-runs the caller's derivation twice), then the
    dedup rides the src-repartition (equal (src,dst) rows share a src, so
    the distinct aggregate runs in place — no second exchange).  Callers
    persist/unpersist the returned frame."""
    p = edges.sparkSession.sparkContext.defaultParallelism
    e0 = materialize(edges.select("src", "dst"))
    return (
        e0.unionByName(
            e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .repartition(p, "src")
        .dropDuplicates(["src", "dst"])
    )


def connected_components_joinagg(
    edges: DataFrame,
    n: int | None = None,
    vertices: DataFrame | None = None,
) -> DataFrame:
    """Fully distributed min-label CC (G11, properties.hxx:379–401 shape):
    neither labels nor the frontier ever sit on the driver.

    Frontier-optimized: each round only vertices whose label improved last
    round send messages (edges ⋈ frontier on src → groupBy(dst).min), so
    late rounds touch O(|changed|) edges.  Fixpoint when no label improves,
    after O(diameter) rounds.  Returns (v, component) with component = min
    vertex id (exact, deterministic — the same labels as
    connected_components_bsp).

    Vertex set: dense [0, n) via `n`, or an explicit (v) DataFrame via
    `vertices` for sparse or string id spaces (e.g. a near-dup pair graph
    over doc ids)."""
    if n is None and vertices is None:
        raise ValueError("connected_components_joinagg: pass n or vertices")
    spark = edges.sparkSession
    und = _und_src(edges).persist()
    und.count()
    if vertices is None:
        vertices = spark.range(n).select(F.col("id").alias("v"))
        n_verts = n
    else:
        vertices = vertices.select("v").distinct()
        n_verts = vertices.count()
    labels = vertices.select(
        "v", F.col("v").alias("lab")
    ).transform(materialize)
    frontier = labels
    while True:
        # broadcast-state gather: und keeps its src partitioning, the
        # per-round label/message frames (≤|V| rows) ship map-side
        msgs = (
            und.join(
                broadcast_state(frontier.withColumnRenamed("v", "src"), n_verts),
                "src",
            )
            .groupBy("dst")
            .agg(F.min("lab").alias("cand"))
        )
        improved = (
            labels.join(broadcast_state(msgs.withColumnRenamed("dst", "v"), n_verts), "v")
            .where(F.col("cand") < F.col("lab"))
            .select("v", F.col("cand").alias("lab"))
            .transform(materialize)
        )
        if improved.isEmpty():
            break
        labels = (
            labels.join(
                broadcast_state(improved.withColumnRenamed("lab", "new_lab"), n_verts),
                "v",
                "left",
            )
            .select("v", F.coalesce("new_lab", "lab").alias("lab"))
            .transform(materialize)
        )
        frontier = improved
    und.unpersist()
    return labels.select("v", F.col("lab").alias("component"))


def label_propagation_joinagg(
    edges: DataFrame, n: int, max_rounds: int = 20
) -> DataFrame:
    """Fully distributed synchronous LPA with the semantics of
    label_propagation_bsp: every round each vertex with ≥1 neighbor adopts
    the most frequent neighbor label, ties broken by the SMALLEST label;
    fixpoint or max_rounds (sync LPA can 2-cycle on bipartite structures —
    the cap is part of the defined semantics).

    Winner pick is one agg chain: groupBy(dst, lab).count →
    groupBy(dst).min(struct(-count, lab)) — no global windows, no driver
    state.  Returns (v, label)."""
    spark = edges.sparkSession
    und = _und_src(edges).persist()
    und.count()
    vertices = spark.range(n).select(F.col("id").alias("v"))
    labels = vertices.select(
        "v", F.col("v").alias("lab")
    ).transform(materialize)
    for _ in range(max_rounds):
        winner = (
            und.join(broadcast_state(labels.withColumnRenamed("v", "src"), n), "src")
            .groupBy("dst", "lab")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("dst")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("nc"), F.col("lab").alias("lab"))
                ).alias("w")
            )
            .select(F.col("dst").alias("v"), F.col("w.lab").alias("new_lab"))
        )
        new_labels = (
            labels.join(broadcast_state(winner, n), "v", "left")
            .select("v", F.coalesce("new_lab", "lab").alias("lab"))
            .transform(materialize)
        )
        changed = (
            new_labels.withColumnRenamed("lab", "nl")
            .join(broadcast_state(labels, n), "v")
            .where(F.col("nl") != F.col("lab"))
        )
        stop = changed.isEmpty()
        labels = new_labels
        if stop:
            break
    und.unpersist()
    return labels.select("v", F.col("lab").alias("label"))


def _degree_oriented(e: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Degree-orient a canonical (src<dst) simple edge set: every edge
    becomes (x, y, dy) with x the lower-(degree, id) endpoint and dy the
    degree of y.  The skew-critical arboricity-bounded fan-out shared by
    triangle_count, local_clustering, and k_truss's _edge_support — ONE
    copy so a tie-break or degree fix can never desynchronize them.
    Returns (fwd, deg); callers persist what they reuse."""
    deg = (
        e.select(F.col("src").alias("v"))
        .unionByName(e.select(F.col("dst").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ed = (
        e.join(deg.withColumnRenamed("v", "src").withColumnRenamed("d", "ds"), "src")
        .join(deg.withColumnRenamed("v", "dst").withColumnRenamed("d", "dd"), "dst")
    )
    src_low = (F.col("ds") < F.col("dd")) | (
        (F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst"))
    )
    fwd = ed.select(
        F.when(src_low, F.col("src")).otherwise(F.col("dst")).alias("x"),
        F.when(src_low, F.col("dst")).otherwise(F.col("src")).alias("y"),
        F.when(src_low, F.col("dd")).otherwise(F.col("ds")).alias("dy"),
    )
    return fwd, deg


def triangle_count(edges: DataFrame, method: str = "arrays") -> DataFrame:
    """Global triangle count on the DEGREE-oriented graph: orient every
    undirected edge from the lower-(degree, id) endpoint to the higher.
    Orienting by raw vertex id leaves O(d²) work at every hub; degree
    orientation bounds per-vertex fan-out by the graph's arboricity (the
    standard skew fix — a hub with 10^6 neighbors generates no work
    unless its neighbors out-rank it).  Excludes self-loops by
    construction.

    method="arrays" (default): per-edge successor-set intersection —
    pack succ(x) into one array per vertex (one groupBy), then for each
    oriented edge (x,y) count |succ(x) ∩ succ(y)| with the JVM-side
    `array_intersect`.  One aggregate + two joins over |E'| rows; no
    wedge materialization (the wedge set is typically ≫ |E'|).  Measured
    ~35% faster than the wedge plan at sf0.1 on both the entity and
    transcript families (identical counts).  Per-row memory is two
    oriented-out-neighborhoods (≤ ~√|E| entries each under degree
    orientation).

    method="wedges": generate wedges at the pivot and close them with a
    left-semi join — constant per-row memory; keep for graphs whose
    oriented out-degree is still extreme.  Pure joins either way —
    Catalyst picks the strategy; AQE handles residual skew."""
    if method not in ("arrays", "wedges"):
        raise ValueError(f"triangle_count: unknown method {method!r}")
    e = (
        symmetrize(edges)
        .where(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .persist()
    )
    fwd, _deg = _degree_oriented(e)
    fwd = fwd.persist()
    # no eager fwd.count(): within-job cache population already dedups the
    # repeated reads, and the extra materialization pass measures ~25% slower
    if method == "arrays":
        nbrs = fwd.groupBy("x").agg(F.collect_list("y").alias("nb"))
        # inner joins: an x always has >=1 successor; a y with none has an
        # empty intersection, so dropping its row is equivalent
        tri = (
            fwd.select("x", "y")
            .join(nbrs, "x")
            .join(
                nbrs.withColumnRenamed("x", "y").withColumnRenamed("nb", "nb2"),
                "y",
            )
            .agg(F.sum(F.size(F.array_intersect("nb", "nb2"))).alias("n"))
        )
        n_tri = tri.collect()[0]["n"] or 0
    else:
        e1 = fwd.select("x", F.col("y").alias("a"), F.col("dy").alias("da"))
        e2 = fwd.select("x", F.col("y").alias("b"), F.col("dy").alias("db"))
        wedges = e1.join(e2, "x").where(
            (F.col("da") < F.col("db"))
            | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
        )
        closing = fwd.select(F.col("x").alias("a"), F.col("y").alias("b"))
        tri = wedges.join(closing, ["a", "b"], "left_semi")
        n_tri = tri.agg(F.count(F.lit(1)).alias("n_triangles")).collect()[0][0]
    # the result is one scalar: computed eagerly above so the two caches can
    # be released here instead of leaking executor storage on every call
    e.unpersist()
    fwd.unpersist()
    spark = edges.sparkSession
    return spark.createDataFrame([(int(n_tri),)], "n_triangles long")


def transitivity(edges: DataFrame) -> DataFrame:
    """Global clustering coefficient:  3·triangles / wedges,  with
    wedges = Σ_v C(d(v), 2) over the simple undirected graph — the
    RATIO-OF-SUMS statistic (Newman), not the mean of local_clustering
    rows (those weight every vertex equally; this weights by wedge
    count, the usual "how clustered is the web graph" headline number).

    Numerator reuses triangle_count's degree-oriented intersection
    (arboricity-bounded fan-out); the denominator is one degree
    aggregate — `(d·(d−1)) div 2` stays in exact integer arithmetic.
    Returns one row (n_triangles, n_wedges, transitivity); the ratio is
    0.0 on wedge-free graphs by convention."""
    n_tri = int(triangle_count(edges).collect()[0][0])
    e = (
        symmetrize(edges)
        .where(F.col("src") < F.col("dst"))
        .select("src", "dst")
    )
    deg = (
        e.select(F.col("src").alias("v"))
        .unionByName(e.select(F.col("dst").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    n_wed = int(
        deg.agg(
            F.coalesce(
                F.sum(F.expr("(d * (d - 1)) div 2")), F.lit(0)
            ).alias("w")
        ).collect()[0][0]
    )
    spark = edges.sparkSession
    ratio = (3.0 * n_tri / n_wed) if n_wed else 0.0
    return spark.createDataFrame(
        [(n_tri, n_wed, float(ratio))],
        "n_triangles long, n_wedges long, transitivity double",
    )


def local_clustering(edges: DataFrame) -> DataFrame:
    """Per-vertex local clustering coefficient on the simple undirected
    graph: lcc(v) = 2·tri(v) / (d(v)·(d(v)−1)), 0 when d(v) < 2.

    Same degree-oriented successor-intersection plan as
    triangle_count(method="arrays") — per-vertex fan-out bounded by
    arboricity, no wedge materialization — but the intersection is
    EXPLODED so each triangle (x, y, z) credits all three members: total
    exploded rows = 3·#triangles, never more.  Returns (v, d, tri, lcc)
    for every vertex of the undirected graph."""
    e = (
        symmetrize(edges)
        .where(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .persist()
    )
    fwd, deg = _degree_oriented(e)
    deg = deg.persist()
    fwd = fwd.select("x", "y").persist()
    nbrs = fwd.groupBy("x").agg(F.collect_list("y").alias("nb"))
    tri_rows = (
        fwd.join(nbrs, "x")
        .join(nbrs.withColumnRenamed("x", "y").withColumnRenamed("nb", "nb2"), "y")
        .select("x", "y", F.explode(F.array_intersect("nb", "nb2")).alias("z"))
    )
    credit = (
        tri_rows.select(F.col("x").alias("v"))
        .unionByName(tri_rows.select(F.col("y").alias("v")))
        .unionByName(tri_rows.select(F.col("z").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("tri"))
    )
    out = (
        deg.join(credit, "v", "left")
        .select(
            "v",
            "d",
            F.coalesce("tri", F.lit(0)).alias("tri"),
            F.when(
                F.col("d") >= 2,
                2.0 * F.coalesce("tri", F.lit(0)) / (F.col("d") * (F.col("d") - 1)),
            )
            .otherwise(F.lit(0.0))
            .alias("lcc"),
        )
    )
    out = materialize(out)
    e.unpersist()
    deg.unpersist()
    fwd.unpersist()
    return out


def _edge_support(e: DataFrame) -> DataFrame:
    """Per-edge triangle support over a canonical (src<dst) simple edge
    set: sup(a,b) = #common neighbors of a and b.  Degree-oriented
    successor-intersection enumeration (triangle_count's arrays plan) so
    a hub only fans out to higher-ranked neighbors (arboricity bound);
    each triangle (x,y,z) credits its THREE canonical edges via one
    explode — 3·#triangles rows, never the wedge set.  Edges in no
    triangle get support 0.  Returns (src, dst, sup)."""
    fwd = _degree_oriented(e)[0].select("x", "y")
    nbrs = fwd.groupBy("x").agg(F.collect_list("y").alias("nb"))
    tri = (
        fwd.join(nbrs, "x")
        .join(nbrs.withColumnRenamed("x", "y").withColumnRenamed("nb", "nb2"), "y")
        .select("x", "y", F.explode(F.array_intersect("nb", "nb2")).alias("z"))
    )
    pair = lambda a, b: F.struct(  # noqa: E731
        F.least(a, b).alias("src"), F.greatest(a, b).alias("dst")
    )
    credit = (
        tri.select(
            F.explode(
                F.array(
                    pair(F.col("x"), F.col("y")),
                    pair(F.col("x"), F.col("z")),
                    pair(F.col("y"), F.col("z")),
                )
            ).alias("p")
        )
        .select("p.src", "p.dst")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("sup"))
    )
    return e.join(credit, ["src", "dst"], "left").select(
        "src", "dst", F.coalesce("sup", F.lit(0)).alias("sup")
    )


def k_truss(edges: DataFrame, k: int, rounds: int = 6) -> DataFrame:
    """k-truss of the undirected simple graph (Cohen 2008): the maximal
    edge subgraph in which every edge lies in ≥ k−2 triangles OF THE
    SUBGRAPH — the edge-analog of k_core and the standard web-graph
    cohesion refinement (a truss edge is embedded in a dense community;
    a core vertex may be held in by degree alone).

    Peel loop: `rounds` rounds of (support → drop edges with
    sup < k−2); then ONE final support computation over the survivors,
    which is what is returned — (src, dst, sup) with src < dst.  The
    fixed `rounds` cap is the operator's contract (k_core's cap rule:
    an unrolled SQL oracle computes the identical capped sequence, and
    any cap ≥ the convergence round count yields the exact truss, at
    which point every returned sup is ≥ k−2 by definition).

    Each round is the degree-oriented triangle pass of triangle_count
    (arboricity-bounded fan-out, no wedge set) + one groupBy + one left
    join — no Python, no windows, no driver traffic inside the loop;
    the peel monotonically SHRINKS the edge set, so later rounds get
    cheaper, the same trajectory as k_core's semi-join chain."""
    if k < 2:
        raise ValueError("k_truss: k must be >= 2")
    e = (
        symmetrize(edges)
        .where(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .transform(materialize)
    )
    for _ in range(rounds):
        e = (
            _edge_support(e)
            .where(F.col("sup") >= k - 2)
            .select("src", "dst")
            .transform(materialize)
        )
    return _edge_support(e)


def modularity(edges: DataFrame, membership: DataFrame) -> DataFrame:
    """Undirected modularity Q = Σ_c [ m_c/m − (K_c/(2m))² ]
    (properties.hxx:123–364 per-community weight aggregates).
    membership: (v, community).  Unweighted (w=1)."""
    und = symmetrize(edges).where(F.col("src") != F.col("dst"))
    mm = F.broadcast(membership)
    lab = (
        und.join(mm.withColumnRenamed("v", "src").withColumnRenamed("community", "c_src"), "src")
        .join(mm.withColumnRenamed("v", "dst").withColumnRenamed("community", "c_dst"), "dst")
    )
    two_m = lab.count()  # each undirected edge counted twice
    per_c = lab.groupBy("c_src").agg(
        F.count(F.lit(1)).alias("deg_sum"),
        F.sum((F.col("c_src") == F.col("c_dst")).cast("long")).alias("internal"),
    )
    return per_c.agg(
        F.sum(
            F.col("internal") / F.lit(float(two_m))
            - F.pow(F.col("deg_sum") / F.lit(float(two_m)), 2)
        ).alias("modularity")
    )


def strongly_connected_components(
    edges: DataFrame, max_outer_rounds: int = 64
) -> DataFrame:
    """Distributed SCC via forward-backward COLORING (the Orzan / FW-BW
    multi-pivot scheme — the standard scale-out answer to Tarjan's
    inherently sequential DFS, which SURVEY §2 G7 already rules out):

      repeat until no vertices remain:
        1. forward min-label fixpoint: color(v) = min(ancestors(v) ∪ {v})
           (frontier-optimized joinagg loop, same shape as
           connected_components_joinagg).
        2. every root r (color(r) = r) anchors one SCC:
           SCC(r) = { v : color(v) = r and v reaches r through vertices of
           color r } — collected by one simultaneous multi-source backward
           BFS keyed by color (no per-root loop).
        3. peel the found SCCs off and iterate on the remainder.

    Works on any key type (entity strings or dense longs; labels compare
    with the key's natural ordering).  Returns (v, scc) with
    scc = min member key — exact and deterministic.

    Round bound: outer rounds = SCC-DAG *depth* eliminated per round is
    ≥ 1 full antichain of root SCCs, so pathological SCC-chains degrade
    to O(chain length) rounds (the same caveat as min-label CC on long
    paths); real link graphs have shallow SCC DAGs.  `max_outer_rounds` raises rather
    than returning a silently partial answer.
    """
    spark = edges.sparkSession
    e_raw = edges.select("src", "dst")
    # self-loops carry no SCC information but their endpoints are still
    # vertices (a loop-only vertex is its own singleton SCC)
    e_all = (
        e_raw.where(F.col("src") != F.col("dst"))
        .distinct()
        .transform(materialize)
    )
    verts = (
        e_raw.select(F.col("src").alias("v"))
        .union(e_raw.select(F.col("dst").alias("v")))
        .distinct()
        .transform(materialize)
    )
    n_verts = verts.count()
    done: DataFrame | None = None
    rem_e = e_all
    rem_v = verts
    for _ in range(max_outer_rounds):
        if rem_v.isEmpty():
            break
        # -- 1. forward min-label coloring to fixpoint ---------------------
        color = rem_v.select("v", F.col("v").alias("c")).transform(materialize)
        frontier = color
        while True:
            msgs = (
                rem_e.join(
                    broadcast_state(
                        frontier.withColumnRenamed("v", "src").withColumnRenamed(
                            "c", "cs"
                        ),
                        n_verts,
                    ),
                    "src",
                )
                .groupBy("dst")
                .agg(F.min("cs").alias("cand"))
            )
            improved = (
                color.join(broadcast_state(msgs.withColumnRenamed("dst", "v"), n_verts), "v")
                .where(F.col("cand") < F.col("c"))
                .select("v", F.col("cand").alias("c"))
                .transform(materialize)
            )
            if improved.isEmpty():
                break
            color = (
                color.join(
                    broadcast_state(improved.withColumnRenamed("c", "new_c"), n_verts),
                    "v",
                    "left",
                )
                .select("v", F.coalesce("new_c", "c").alias("c"))
                .transform(materialize)
            )
            frontier = improved
        # -- 2. multi-source backward BFS from roots within color classes --
        reached = color.where(F.col("v") == F.col("c")).transform(materialize)
        bfs_frontier = reached
        while True:
            preds = (
                rem_e.join(
                    broadcast_state(bfs_frontier.withColumnRenamed("v", "dst"), n_verts),
                    "dst",
                )
                .select(F.col("src").alias("v"), "c")
                .distinct()
            )
            # stay inside the color class: (v, c) must be a coloring row
            new = (
                preds.join(broadcast_state(color, n_verts), ["v", "c"], "left_semi")
                .join(broadcast_state(reached, n_verts), "v", "left_anti")
                .transform(materialize)
            )
            if new.isEmpty():
                break
            reached = reached.union(new).transform(materialize)
            bfs_frontier = new
        found = reached.select("v", F.col("c").alias("scc"))
        done = found if done is None else done.union(found)
        done = done.transform(materialize)
        # -- 3. peel ------------------------------------------------------
        rem_v = rem_v.join(broadcast_state(reached, n_verts), "v", "left_anti").transform(
            materialize
        )
        rem_e = (
            rem_e.join(
                broadcast_state(reached.withColumnRenamed("v", "src"), n_verts),
                "src",
                "left_anti",
            )
            .join(
                broadcast_state(reached.withColumnRenamed("v", "dst"), n_verts),
                "dst",
                "left_anti",
            )
            .transform(materialize)
        )
    else:
        raise RuntimeError(
            f"strongly_connected_components: not converged in "
            f"{max_outer_rounds} outer rounds (SCC-DAG deeper than the cap)"
        )
    if done is None:
        return spark.createDataFrame([], "v string, scc string")
    return done


def connected_components_incremental(
    labels: DataFrame, batch: DataFrame
) -> DataFrame:
    """Insert-only DYNAMIC connected components — the CC analog of the
    reference's dynamic-batch PageRank contract (batch.hxx insert path):
    given an existing labeling and a batch of inserted edges, produce the
    labeling of G ∪ batch touching O(|V|) map-side work + O(|batch|)
    distributed merge work — never a full recompute.

    labels: (v, component) with component = min member id (the invariant
    both CC engines produce).  batch: (src, dst); endpoints
    absent from `labels` are treated as fresh singleton vertices.

    Plan shape (100 TB posture):
      1. batch endpoints → component ids: TWO broadcast hash joins of the
         (small, by the dynamic-batch contract) batch against `labels`
         — wait, labels is the BIG side, so the lookup is oriented the
         other way: labels is scanned ONCE per endpoint side with the
         broadcast batch as the build side (map-side, no |V| shuffle).
      2. the distinct (comp_a, comp_b) pairs form a component graph of
         size ≤ |batch|; connected_components_joinagg merges it over that
         small sparse-id graph.
      3. the merge map (old component → new root, non-identity rows only,
         ≤ 2|batch| rows) is broadcast and applied to `labels` with one
         map-side left join — the only O(|V|) cost, shuffle-free.
    Insertions only MERGE components (min of mins = global min), so the
    output keeps the min-member-id invariant exactly.  Deletions split —
    see connected_components_decremental."""
    spark = labels.sparkSession
    b = batch.select("src", "dst").dropDuplicates(["src", "dst"])
    bverts = (
        b.select(F.col("src").alias("v"))
        .unionByName(b.select(F.col("dst").alias("v")))
        .distinct()
    )
    # endpoint → component: scan labels once, broadcast the batch side
    hit = labels.join(F.broadcast(bverts), "v", "left_semi").transform(materialize)
    lookup = F.broadcast(hit)
    news = bverts.join(F.broadcast(hit.select("v")), "v", "left_anti").select(
        "v", F.col("v").alias("component")
    )
    cs = lookup.withColumnRenamed("v", "src").withColumnRenamed("component", "ca")
    cd = lookup.withColumnRenamed("v", "dst").withColumnRenamed("component", "cb")
    pairs = (
        b.join(cs, "src", "left")
        .join(cd, "dst", "left")
        .select(
            F.coalesce("ca", "src").alias("src"),
            F.coalesce("cb", "dst").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    cverts = (
        pairs.select(F.col("src").alias("v"))
        .unionByName(pairs.select(F.col("dst").alias("v")))
        .distinct()
    )
    merge = connected_components_joinagg(pairs, vertices=cverts).where(
        F.col("v") != F.col("component")
    )
    # apply: one broadcast left join over labels ∪ fresh singletons
    remap = F.broadcast(
        merge.select(
            F.col("v").alias("component"), F.col("component").alias("root")
        )
    )
    return (
        labels.unionByName(news)
        .join(remap, "component", "left")
        .select("v", F.coalesce("root", "component").alias("component"))
    )


def connected_components_decremental(
    edges: DataFrame, labels: DataFrame, deletions: DataFrame
) -> DataFrame:
    """Edge-deletion DYNAMIC connected components: deletions can SPLIT a
    component, which no label-merge trick repairs — the honest dynamic
    contract is recompute-ONLY-the-affected-components (the CC analog of
    the reference's Dynamic Traversal marking, pagerankCuda.hxx:439–456:
    bound the recompute region by what the batch can possibly touch).

    edges/labels: current graph + its labeling.  deletions: (src, dst)
    rows to remove (directed rows; the undirected view follows from CC's
    symmetrize, so deleting (a,b) while (b,a) survives keeps them
    connected — set semantics, batch.hxx:222–247).

    Plan shape: affected component ids come from a broadcast join of the
    small deletion batch; the affected VERTEX set is one map-side
    broadcast semi-join over labels (O(|V|) scan, no shuffle); the
    affected EDGE set is one semi-join over edges keyed src (co-located
    with the snapshot's ownership partitioning); connected_components_joinagg
    reruns on that O(affected) subgraph only, and every untouched
    component's rows pass through unchanged."""
    d = deletions.select("src", "dst").dropDuplicates(["src", "dst"])
    # deleted edges live inside one component each: the src side suffices
    aff = (
        labels.join(
            F.broadcast(d.select(F.col("src").alias("v")).distinct()), "v", "left_semi"
        )
        .select("component")
        .distinct()
        .transform(materialize)
    )
    av = labels.join(F.broadcast(aff), "component", "left_semi").transform(materialize)
    e_aff = edges.select("src", "dst").join(
        av.select(F.col("v").alias("src")), "src", "left_semi"
    )
    remaining = e_aff.join(F.broadcast(d), ["src", "dst"], "left_anti")
    redo = connected_components_joinagg(remaining, vertices=av.select("v"))
    keep = labels.join(F.broadcast(aff), "component", "left_anti")
    return keep.unionByName(redo)


def triangle_count_incremental(
    old_edges: DataFrame, batch: DataFrame
) -> DataFrame:
    """Dynamic triangle count under edge insertions: T(G ∪ B) computed as
    T(G) + |new triangles|, where the delta enumerates ONLY triangles
    containing ≥1 genuinely-new edge — O(|B|·deg) work instead of a full
    recount (the amortization the reference's batch loop lives on: the
    base count is carried forward across batches; here it is recomputed
    once for the self-contained API, which the caller amortizes).

    Delta plan (100 TB posture): the tidy probe (is the batch edge
    already present?) is ONE map-side pass over the oriented edge table
    with the batch broadcast (tidy_batch orientation, graph.py); candidate
    third vertices come from a broadcast hash join of the new edges
    against the undirected adjacency (map-side — the big side probes);
    the closing-edge check collects ONLY the adjacency of batch endpoints
    (map-side broadcast semi-filter, then an O(deg(batch)) groupBy) and
    verifies membership with array_contains.  Triangles reachable through
    several new edges are deduped on the sorted vertex triple.  No stage
    shuffles the full edge table."""
    on = ["src", "dst"]
    old_o = (
        symmetrize(old_edges).where(F.col("src") < F.col("dst")).select(on)
    )
    bat_o = (
        symmetrize(batch).where(F.col("src") < F.col("dst")).dropDuplicates(on)
    )
    hits = old_o.join(F.broadcast(bat_o), on, "left_semi").dropDuplicates(on)
    new_o = bat_o.join(F.broadcast(hits), on, "left_anti").transform(materialize)
    full_o = old_o.unionByName(new_o)
    und = full_o.unionByName(
        full_o.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # candidates: c ∈ N_full(a) for each new edge (a,b), c ≠ b
    cand = (
        und.join(
            F.broadcast(new_o.withColumnRenamed("src", "a").withColumnRenamed("dst", "b")),
            F.col("src") == F.col("a"),
        )
        .where(F.col("dst") != F.col("b"))
        .select("a", "b", F.col("dst").alias("c"))
    )
    # closing check: c ∈ N_full(b), with N(b) gathered only for batch b's
    nb = (
        und.join(
            F.broadcast(new_o.select(F.col("dst").alias("src")).distinct()),
            "src",
            "left_semi",
        )
        .groupBy(F.col("src").alias("b"))
        .agg(F.collect_set("dst").alias("nb"))
    )
    tri = (
        cand.join(F.broadcast(nb), "b")
        .where(F.array_contains("nb", F.col("c")))
        .select(F.sort_array(F.array("a", "b", "c")).alias("t"))
        .distinct()
    )
    delta = tri.agg(F.count(F.lit(1)).alias("d"))
    base = triangle_count(old_edges)
    return base.crossJoin(delta).select(
        (F.col("n_triangles") + F.col("d")).alias("n_triangles")
    )


def louvain_moves(
    edges: DataFrame,
    rounds: int = 4,
) -> DataFrame:
    """Community detection by SYNCHRONIZED modularity-gain label moves —
    the parallel first phase of Louvain (Blondel et al. 2008), the
    modularity-objective upgrade of this module's label propagation.

    Undirected simple view; every comparison is EXACT INTEGER arithmetic:
    moving v into community c changes modularity by
      DQ ∝ 2m·k(v,c) − deg(v)·Σtot(c \\ v)        (× 2m² > 0)
    so the argmax over candidate communities — and the move-vs-stay
    test — need no floats at all, and the SQL oracle reproduces every
    label bit-for-bit (classic Louvain is sequential and unreproducible
    across schedulers, which is exactly what a 1000-executor pipeline
    cannot have).

    Per round, every vertex considers its neighbors' communities plus
    staying put; strict improvement moves it (ties → stay; candidate
    ties → min community id).  Synchronous moves can oscillate (two
    vertices swapping communities forever), so rounds ALTERNATE the move
    direction: even rounds allow only moves to a SMALLER community id,
    odd rounds only to a LARGER one — a swapping pair needs opposite
    directions, so both can never fire in the same round (the
    oscillation fix used by production parallel Louvain implementations;
    deterministic here, no RNG, no hash).

    Scale posture: each round is (1) one edges⋈labels shuffle + a
    (v, community) count — map-side combinable, (2) one Σtot aggregate
    over |V| rows, (3) one fused per-vertex aggregate picking the move
    (no window, no global sort).  Labels never touch the driver; hub
    communities are plain groupBy keys (AQE skew handling applies).
    Returns (v, community)."""
    spark = edges.sparkSession
    p = spark.sparkContext.defaultParallelism
    simple = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )
    # repartition by src BEFORE the undirected dedup: equal (src,dst)
    # rows share a src, so the distinct aggregate runs in place on the
    # src-hash layout — one |E| shuffle instead of two
    und = (
        simple.unionByName(
            simple.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .repartition(p, "src")
        .dropDuplicates(["src", "dst"])
        .persist()
    )
    two_m = und.count()  # Σ deg = 2m (each undirected edge counted twice)
    # state carries (v, c, d): the constant per-vertex degree rides the
    # community column, so the per-round Σtot aggregate and the candidate
    # scoring need NO deg join (and no per-round deg re-broadcast)
    c = (
        und.groupBy(F.col("src").alias("v"))
        .agg(F.count(F.lit(1)).alias("d"))
        .select("v", F.col("v").alias("c"), "d")
        .transform(materialize)
    )
    n_verts = c.count()
    for t in range(rounds):
        # broadcast-state gather: und stays put (and keeps its src
        # partitioning for the groupBy below — zero edge-table shuffle
        # per round while |V| is executor-resident)
        cdst = broadcast_state(
            c.select(F.col("v").alias("dst"), F.col("c").alias("cc")), n_verts
        )
        k = (
            und.join(cdst, "dst")
            .groupBy(F.col("src").alias("v"), "cc")
            .agg(F.count(F.lit(1)).alias("k"))
        )
        stot = c.groupBy(F.col("c").alias("cc")).agg(F.sum("d").alias("stot"))
        # candidates = neighbor communities ∪ the stay row (k=0 if v has
        # no neighbor in its own community); max(k) keeps the real count;
        # direction alternation drops the disallowed side up front
        direction = (
            (F.col("cc") < F.col("c")) if t % 2 == 0 else (F.col("cc") > F.col("c"))
        )
        stay0 = c.select("v", F.col("c").alias("cc"), F.lit(0).alias("k"))
        cand = (
            k.unionByName(stay0)
            .groupBy("v", "cc")
            .agg(F.max("k").alias("k"))
            .join(broadcast_state(c, n_verts), "v")
            .where((F.col("cc") == F.col("c")) | direction)
            .join(broadcast_state(stot, n_verts), "cc")
            .withColumn(
                "score",
                F.lit(int(two_m)) * F.col("k")
                - F.col("d")
                * (
                    F.col("stot")
                    - F.when(F.col("cc") == F.col("c"), F.col("d")).otherwise(
                        F.lit(0)
                    )
                ),
            )
        )
        # ONE fused per-vertex aggregate replaces the r5 row_number window
        # + stay-filter + stay-broadcast join: best candidate by
        # (score desc, cc asc) is min(struct(-score, cc)) — every score is
        # an exact integer, so the comparison semantics are identical —
        # and the stay row always exists (stay0 is unioned in), so
        # stay_score is never null
        agg = cand.groupBy("v").agg(
            F.min(
                F.struct((-F.col("score")).alias("ns"), F.col("cc").alias("cc"))
            ).alias("best"),
            F.max(F.when(F.col("cc") == F.col("c"), F.col("score"))).alias(
                "stay_score"
            ),
            F.min("c").alias("c"),  # constant per v
            F.min("d").alias("d"),
        )
        c = agg.select(
            "v",
            F.when(
                (-F.col("best.ns")) > F.col("stay_score"), F.col("best.cc")
            )
            .otherwise(F.col("c"))
            .alias("c"),
            "d",
        ).transform(materialize)
    und.unpersist()
    return c.select("v", F.col("c").alias("community"))


def seeded_label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 10,
) -> DataFrame:
    """Semi-supervised label propagation (the hard-label relaxation of
    Zhu & Ghahramani 2002): `seeds` is a (v, label) table of CLAMPED
    vertices; every round each NON-seed vertex with ≥1 labeled neighbor
    adopts the most frequent neighbor label (ties → smallest label),
    recomputed synchronously; vertices no labeled vertex can reach stay
    NULL.  The standard "spread the few ground-truth classes over the
    graph" prep for node classification — distinct from `label_
    propagation_joinagg`, where every vertex starts as its own community.

    Same scale shape as LPA: per round ONE edges⋈labels shuffle (probe
    side filtered to labeled sources) + the groupBy(dst, lab) →
    min(struct(−count, lab)) winner chain — no windows wider than a key,
    no driver traffic but the isEmpty() early-stop scalar.  The fixed
    `rounds` cap is the operator contract (k_core's cap rule): extra
    oracle rounds past the fixpoint are no-ops, so a capped unrolled SQL
    twin agrees unconditionally.  Multiple seed rows per vertex collapse
    deterministically to the smallest label.

    Returns (v, label) over all graph vertices; label nullable."""
    und = _und_src(edges).persist()
    und.count()
    verts = (
        und.select(F.col("src").alias("v"))
        .unionByName(und.select(F.col("dst").alias("v")))
        .distinct()
    )
    seed1 = seeds.groupBy("v").agg(F.min("label").alias("seed_lab"))
    base = verts.join(seed1, "v", "left").transform(materialize)
    n_verts = base.count()
    labels = base.select("v", F.col("seed_lab").alias("lab"))
    for _ in range(rounds):
        winner = (
            und.join(
                broadcast_state(
                    labels.where(F.col("lab").isNotNull()).withColumnRenamed("v", "src"),
                    n_verts,
                ),
                "src",
            )
            .groupBy("dst", "lab")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("dst")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("nc"), F.col("lab").alias("lab"))
                ).alias("w")
            )
            .select(F.col("dst").alias("v"), F.col("w.lab").alias("new_lab"))
        )
        new_labels = (
            base.join(broadcast_state(labels.withColumnRenamed("lab", "prev"), n_verts), "v")
            .join(broadcast_state(winner, n_verts), "v", "left")
            .select(
                "v",
                F.coalesce(
                    "seed_lab", F.coalesce("new_lab", "prev")
                ).alias("lab"),
            )
            .transform(materialize)
        )
        changed = (
            new_labels.withColumnRenamed("lab", "nl")
            .join(broadcast_state(labels, n_verts), "v")
            .where(~F.col("nl").eqNullSafe(F.col("lab")))
        )
        stop = changed.isEmpty()
        labels = new_labels
        if stop:
            break
    und.unpersist()
    return labels.select("v", F.col("lab").alias("label"))
