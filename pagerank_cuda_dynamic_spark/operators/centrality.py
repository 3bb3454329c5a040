"""Centrality / structural-core operators beyond the PageRank family.

The reference repo's rank machinery (pagerankCuda.hxx:676-692: one
gather + one normalization barrier per superstep) generalizes to any
linear fixpoint over the adjacency; these operators re-express three
standard link-analysis siblings as declarative join/agg supersteps
(the shape of operators/components.py's shared-nothing components engine,
`connected_components_joinagg`):

  * `hits`                  — Kleinberg hubs/authorities power iteration
                              (mutually recursive gather over E and Eᵀ,
                              L2 normalization barrier per half-step).
  * `personalized_pagerank` — PageRank with the teleport vector
                              concentrated on a seed set (the reference's
                              uniform C0 = (1-P)/N becomes (1-P)·p[v];
                              same pull update, same L∞ stop).
  * `k_core`                — iterative degree peel to the k-core
                              (monotone fixpoint: each round drops
                              vertices whose surviving degree < k).

All three are pure DataFrame plans — join / groupBy / agg supersteps
with `materialize` lineage barriers, nothing per-row in Python, and the
only driver traffic is one scalar per half-step (a norm or an edge
count).  They are key-type-agnostic: callers may pass entity-string
edges directly (the driver gate does) or dictionary-encoded dense ids
(plans/dictionary.py) for the 100 TB path, where the join keys become
8-byte longs.

Scale posture: every superstep is one shuffle on the edge key plus a
broadcast-sized scalar; skewed hubs hit Spark's AQE skew-join
handling.  `k_core`'s peel is a shrinking
semi-join chain — each round's surviving-vertex set is a HAVING
aggregate, never collected.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..plans.barrier import broadcast_state, loop_partitions, materialize


def _distinct_edges(edges: DataFrame) -> DataFrame:
    return edges.select("src", "dst").distinct()


# Measured here: without the broadcast-state hint each HITS half-step
# shuffles the full edge table — 3-4 s vs ~0.4 s broadcast at 1.2 M
# edges / 36 k vertices (see plans/barrier.broadcast_state).
_state_side = broadcast_state


def hits(edges: DataFrame, iterations: int = 20) -> DataFrame:
    """Kleinberg HITS: `iterations` synchronous rounds of

        auth[v] ← Σ_{(u,v)∈E} hub[u]   then L2-normalize auth
        hub[u]  ← Σ_{(u,v)∈E} auth[v]  then L2-normalize hub

    starting from hub ≡ 1/√N.  Self-loops are excluded (a page endorsing
    itself carries no hub/authority signal).  Returns (v, auth, hub).

    Each half-step is the same shape as the reference's rank gather
    (pagerankCuda.hxx:676-692) with the transpose alternating; the L2
    norm is the normalization barrier (the reference folds its norm into
    the teleport constant — HITS must renormalize explicitly or the
    iteration diverges).
    """
    e = _distinct_edges(edges).where(F.col("src") != F.col("dst")).persist()
    e.count()
    verts = (
        e.select(F.col("src").alias("v"))
        .union(e.select(F.col("dst").alias("v")))
        .distinct()
        .persist()
    )
    n = verts.count()
    if n == 0:
        out = verts.select(
            "v", F.lit(0.0).alias("auth"), F.lit(0.0).alias("hub")
        ).transform(materialize)
        e.unpersist()
        verts.unpersist()
        return out

    with loop_partitions(e.sparkSession, n):
        out = _hits_loop(e, verts, n, iterations)
    e.unpersist()
    verts.unpersist()
    return out


def _hits_loop(
    e: DataFrame, verts: DataFrame, n: int, iterations: int
) -> DataFrame:
    """HITS iteration body, run under a state-sized loop_partitions scope
    (per-superstep shuffles carry ≤|V| score rows — see plans/barrier)."""
    hub = verts.select("v", F.lit(1.0 / math.sqrt(n)).alias("s")).transform(
        materialize
    )

    def _half_step(scores: DataFrame, probe: str, build: str) -> DataFrame:
        """One gather over E (probe = edge column joined to `scores`,
        build = edge column grouped into the new score) + L2 barrier.

        Loop-scale savings over the naive joinagg shape: vertices
        absent from the gather result have score 0 and contribute
        nothing to the next gather or to the L2 norm, so the
        zero-restoring `verts` left join runs ONCE at the end instead of
        per half-step.  The L2 norm is ONE double collected to the
        driver and folded back as a literal — the r5 lazy 1-row
        crossJoin made the next half-step's broadcast build execute two
        nested BroadcastExchanges (the norm row, then the normalized
        state) at a measured ~0.35 s/half-step of extra job launches
        (tools/profile_hits.py: 0.706 -> 0.502 s mean half-step); the
        literal division is bit-identical (same double, same per-row
        divide).  A lazy auth half-step (salsa's one-barrier-per-round
        shape) stays measured-out: the norm makes the lazy subtree
        execute twice inside the hub job (33 -> 38 s at sf0.1)."""
        raw = (
            e.join(_state_side(scores.withColumnRenamed("v", probe), n), probe)
            .groupBy(F.col(build).alias("v"))
            .agg(F.sum("s").alias("s"))
            .transform(materialize)
        )
        l2 = raw.agg(F.sqrt(F.sum(F.col("s") * F.col("s")))).collect()[0][0]
        if l2 is not None and l2 > 0:
            return raw.select("v", (F.col("s") / F.lit(float(l2))).alias("s"))
        return raw

    auth = verts.select("v", F.lit(0.0).alias("s"))
    for _ in range(iterations):
        auth = _half_step(hub, "src", "dst")
        hub = _half_step(auth, "dst", "src")

    out = (
        verts.join(auth.withColumnRenamed("s", "auth"), "v", "left")
        .join(hub.withColumnRenamed("s", "hub"), "v", "left")
        .select(
            "v",
            F.coalesce("auth", F.lit(0.0)).alias("auth"),
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
        )
        # checkpoint BEFORE unpersisting: the returned frame must not
        # re-run the |E| distinct / vertex-union its caches backed
        .transform(materialize)
    )
    return out


def salsa(edges: DataFrame, iterations: int = 20) -> DataFrame:
    """SALSA (Lempel & Moran 2000): the stochastic sibling of HITS —
    `iterations` synchronous rounds of the degree-normalized alternating
    walk on the hub/authority bipartite view of E:

        hub[u]  ← Σ_{(u,v)∈E} auth[v] / indeg(v)
        auth[v] ← Σ_{(u,v)∈E} hub[u]  / outdeg(u)

    from auth ≡ 1/|{v : indeg(v) ≥ 1}| over authority-side vertices.
    Because both half-steps are column-stochastic averages, total mass
    is preserved EXACTLY (Σ auth = Σ hub = 1 every round) — so unlike
    `hits` there is no normalization barrier at all: the whole run is
    one declarative chain of edge-keyed shuffles with zero driver
    traffic inside the loop (`hits` needs an L2-norm barrier per
    half-step: one double collected to the driver and folded back as a
    literal; PageRank needs the dangling/teleport scalar).  Self-loops
    excluded as in `hits`.  Returns (v, auth, hub);
    vertices with no in-edges have auth 0, no out-edges hub 0.

    Reference parity note: same gather shape as the rank pull of
    pagerankCuda.hxx:676-692 with 1/deg folded onto the PROBE side —
    exactly how the reference folds 1/outdeg into its rdiv vector.
    """
    e = _distinct_edges(edges).where(F.col("src") != F.col("dst")).persist()
    e.count()
    verts = (
        e.select(F.col("src").alias("v"))
        .union(e.select(F.col("dst").alias("v")))
        .distinct()
        .persist()
    )
    n_verts = verts.count()
    indeg = (
        e.groupBy(F.col("dst").alias("v"))
        .agg(F.count(F.lit(1)).alias("ind"))
        .persist()
    )
    outdeg = e.groupBy(F.col("src").alias("v")).agg(F.count(F.lit(1)).alias("outd"))
    # fold 1/deg onto the probe side once, like the reference's rdiv vector
    ew = (
        e.join(indeg.withColumnRenamed("v", "dst"), "dst")
        .join(outdeg.withColumnRenamed("v", "src"), "src")
        .select(
            "src",
            "dst",
            (F.lit(1.0) / F.col("ind")).alias("w_in"),
            (F.lit(1.0) / F.col("outd")).alias("w_out"),
        )
        .persist()
    )
    ew.count()
    e.unpersist()
    n_auth = indeg.count()
    with loop_partitions(ew.sparkSession, n_verts):
        out = _salsa_loop(ew, verts, indeg, n_auth, n_verts, iterations)
    ew.unpersist()
    verts.unpersist()
    return out


def _salsa_loop(
    ew: DataFrame,
    verts: DataFrame,
    indeg: DataFrame,
    n_auth: int,
    n_verts: int,
    iterations: int,
) -> DataFrame:
    """SALSA iteration body under a state-sized loop_partitions scope."""
    auth = indeg.select("v", F.lit(1.0 / n_auth).alias("s")).transform(
        materialize
    )
    indeg.unpersist()
    # Inside the loop, vertices absent from a gather have score 0 and
    # contribute nothing to the next gather, so the zero-restoring
    # `verts` left join runs ONCE at the end instead of per half-step
    # (same loop-scale saving as `hits`; zero driver traffic remains).
    hub = verts.select("v", F.lit(0.0).alias("s"))
    for _ in range(iterations):
        # the hub half-step stays LAZY inside the round: the auth
        # materialize executes it exactly once (its broadcast build runs
        # the pending join+agg), so each round costs ONE eager job, not
        # two; lineage depth stays bounded at two joins because auth is
        # the per-round barrier
        hub = (
            ew.join(_state_side(auth.withColumnRenamed("v", "dst"), n_verts), "dst")
            .groupBy(F.col("src").alias("v"))
            .agg(F.sum(F.col("s") * F.col("w_in")).alias("s"))
        )
        auth = (
            ew.join(_state_side(hub.withColumnRenamed("v", "src"), n_verts), "src")
            .groupBy(F.col("dst").alias("v"))
            .agg(F.sum(F.col("s") * F.col("w_out")).alias("s"))
            .transform(materialize)
        )
    # one extra lazy execution of the final hub half-step at output time
    # (it was never materialized) — 1 half-step traded for `iterations`
    # saved barrier jobs
    hub = hub.transform(materialize)
    out = (
        verts.join(auth.withColumnRenamed("s", "auth"), "v", "left")
        .join(hub.withColumnRenamed("s", "hub"), "v", "left")
        .select(
            "v",
            F.coalesce("auth", F.lit(0.0)).alias("auth"),
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
        )
        .transform(materialize)  # independent of ew/verts before unpersist
    )
    return out


def katz(
    edges: DataFrame,
    alpha: float = 0.05,
    beta: float = 1.0,
    iterations: int = 10,
) -> DataFrame:
    """Katz centrality, `iterations` synchronous rounds of

        x[v] ← β + α · Σ_{(u,v)∈E} x[u]        starting from x ≡ 0,

    i.e. after `iterations` total states (x⁰ = β·1 included) the
    truncated Katz series Σ_{k<K} α^k·β·(Aᵀ)^k·1 — every walk INTO v of
    length < K, damped by α per hop.  Fixed iteration count is
    part of the contract (like k_core's round cap) so a fixed-unroll SQL
    oracle agrees unconditionally; callers pick α below 1/λ_max for the
    series to converge.  Self-loops excluded (a page endorsing itself
    earns no Katz walk).  Returns (v, katz).

    Same superstep shape as personalized_pagerank's gather — one edge-keyed
    shuffle + a left join back to the vertex set per round; no
    normalization barrier (Katz is not a probability), so NO driver
    traffic at all inside the loop."""
    e = _distinct_edges(edges).where(F.col("src") != F.col("dst")).persist()
    e.count()
    verts = (
        e.select(F.col("src").alias("v"))
        .union(e.select(F.col("dst").alias("v")))
        .distinct()
        .persist()
    )
    n_verts = verts.count()
    with loop_partitions(e.sparkSession, n_verts):
        out = _katz_loop(e, verts, n_verts, alpha, beta, iterations)
    e.unpersist()
    verts.unpersist()
    return out


def _katz_loop(
    e: DataFrame,
    verts: DataFrame,
    n_verts: int,
    alpha: float,
    beta: float,
    iterations: int,
) -> DataFrame:
    """Katz iteration body under a state-sized loop_partitions scope."""
    x = verts.select("v", F.lit(float(beta)).alias("s")).transform(materialize)
    for _ in range(iterations - 1):
        x = (
            verts.join(
                e.join(_state_side(x.withColumnRenamed("v", "src"), n_verts), "src")
                .groupBy(F.col("dst").alias("v"))
                .agg(F.sum("s").alias("acc")),
                "v",
                "left",
            )
            .select(
                "v",
                (
                    F.lit(float(beta))
                    + F.lit(float(alpha)) * F.coalesce(F.col("acc"), F.lit(0.0))
                ).alias("s"),
            )
            .transform(materialize)
        )
    return x.withColumnRenamed("s", "katz")


def _ppr_multi(
    edges: DataFrame,
    seed_sets: "dict[str, DataFrame | None]",
    damping: float,
    iterations: int,
) -> DataFrame:
    """Shared PPR core: k synchronized pull recurrences over ONE
    prepped edge scan — each round is a single gather join whose
    aggregate sums every rank column at once, so running k teleport
    vectors costs one loop, not k (`trustrank_spam_mass` needs exactly
    two).  A ``None`` seed set means the uniform teleport over all
    vertices (plain PageRank expressed as PPR seeded by everything).
    Returns (v, <name>...) with one rank column per `seed_sets` entry.
    """
    # ONE execution of the caller's (possibly join-heavy) edge derivation:
    # every later pass (vertex union, self-loop union, degree count) reads
    # this cache — the r5 lazy e0 re-ran the derivation 3x during prep
    e0 = _distinct_edges(edges).persist()
    e0.count()
    verts = (
        e0.select(F.col("src").alias("v"))
        .union(e0.select(F.col("dst").alias("v")))
        .distinct()
        .persist()
    )
    n_verts = verts.count()
    if n_verts == 0:
        e0.unpersist()
        verts.unpersist()
        # mirrors the empty-seed rejection below: with no vertices the
        # uniform teleport 1/n is undefined and every seed is "outside"
        raise ValueError("personalized_pagerank: graph has no vertices")
    # universal self-loops, as add_self_loops (operators/graph.py:31).
    # e0 is already (src,dst)-distinct, so dropping its self-loops and
    # unioning the universal loop set IS the old union-distinct result —
    # minus the second |E| dedup shuffle the r5 shape paid here
    e = (
        e0.where(F.col("src") != F.col("dst"))
        .unionByName(verts.select(F.col("v").alias("src"), F.col("v").alias("dst")))
        .persist()
    )
    e.count()
    e0.unpersist()

    names = list(seed_sets)
    seed_frames = []
    tp = verts
    validated = False
    try:
        for name, seeds in seed_sets.items():
            if seeds is None:
                tp = tp.withColumn(f"p_{name}", F.lit(1.0 / n_verts))
                continue
            s = seeds.toDF("v").distinct().persist()
            seed_frames.append(s)
            n_seeds = s.count()
            if n_seeds == 0:
                raise ValueError("personalized_pagerank: seeds must be non-empty")
            n_outside = s.join(verts, "v", "left_anti").count()
            if n_outside:
                raise ValueError(
                    f"personalized_pagerank: {n_outside} seed(s) not in the vertex set"
                )
            tp = (
                tp.join(
                    F.broadcast(s.select("v", F.lit(1.0 / n_seeds).alias("_sp"))),
                    "v",
                    "left",
                )
                .withColumn(f"p_{name}", F.coalesce(F.col("_sp"), F.lit(0.0)))
                .drop("_sp")
            )
        validated = True
    finally:
        # rejected or failing seed sets must not leak cached blocks in
        # long-lived sessions (the n_verts == 0 branch above already unpersists)
        if not validated:
            for f in (verts, e, *seed_frames):
                f.unpersist()
    tp = tp.select("v", *[F.col(f"p_{c}") for c in names])

    P = damping
    # edge weight 1/outdeg(src), J2 broadcast annotation
    deg = e.groupBy(F.col("src").alias("v")).agg(F.count(F.lit(1)).alias("outdeg"))
    ew = (
        e.join(F.broadcast(deg.withColumnRenamed("v", "src")), "src")
        .select("src", "dst", (F.lit(1.0) / F.col("outdeg")).alias("w"))
        .persist()
    )
    ew.count()

    with loop_partitions(ew.sparkSession, n_verts):
        ranks = tp.select(
            "v", *[F.col(f"p_{c}").alias(c) for c in names]
        ).transform(materialize)
        tp = tp.transform(materialize)
        for _ in range(iterations):
            contrib = (
                ew.join(
                    _state_side(ranks.withColumnRenamed("v", "src"), n_verts),
                    "src",
                )
                .groupBy(F.col("dst").alias("v"))
                .agg(*[F.sum(F.col(c) * F.col("w")).alias(f"_c_{c}") for c in names])
            )
            ranks = (
                tp.join(contrib, "v", "left")
                .select(
                    "v",
                    *[
                        (
                            F.lit(1.0 - P) * F.col(f"p_{c}")
                            + F.lit(P) * F.coalesce(F.col(f"_c_{c}"), F.lit(0.0))
                        ).alias(c)
                        for c in names
                    ],
                )
                .transform(materialize)
            )
    ew.unpersist()
    e.unpersist()
    verts.unpersist()
    for s in seed_frames:
        s.unpersist()
    return ranks


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    damping: float = 0.85,
    iterations: int = 30,
) -> DataFrame:
    """Personalized PageRank: the reference's pull update
    (pagerankStaticOmp, pagerank.hxx — r'[v] = C0 + P·Σ r[u]/deg(u))
    with the uniform teleport C0 replaced by (1-P)·p[v], where p is
    uniform over `seeds` (a 1-column DataFrame of vertex keys) and the
    rank vector starts at p.  Universal self-loops (G4) are added as in
    the static family, so there is no dangling mass and Σ rank ≡ 1 is
    preserved exactly.  Runs `iterations` synchronous rounds.

    Returns (v, rank).  Seeds must be non-empty and a subset of the
    graph's vertices; rows outside the vertex set would silently lose
    teleport mass, so they are rejected.
    """
    return _ppr_multi(edges, {"rank": seeds}, damping, iterations)


def eigenvector_centrality(edges: DataFrame, iterations: int = 20) -> DataFrame:
    """Right-eigenvector centrality by power iteration: `iterations`
    rounds of  x ← Aᵀx, L2-normalized each round, from x ≡ 1/√N — the
    authority half of HITS run on A alone.  Fixed round count is the
    contract (unrolled SQL oracle agrees unconditionally); on graphs
    with a spectral gap it converges to the dominant eigenvector.
    Self-loops excluded.  Returns (v, score).

    Same superstep shape as the HITS half-step: one edge-keyed gather +
    a scalar L2 barrier per round."""
    e = _distinct_edges(edges).where(F.col("src") != F.col("dst")).persist()
    e.count()
    verts = (
        e.select(F.col("src").alias("v"))
        .union(e.select(F.col("dst").alias("v")))
        .distinct()
        .persist()
    )
    n = verts.count()
    if n == 0:
        out = verts.select("v", F.lit(0.0).alias("score")).transform(materialize)
        e.unpersist()
        verts.unpersist()
        return out
    # Same loop-scale savings as the HITS half-step: absent vertices are
    # exact zeros (contribute nothing to the gather or the norm), so the
    # zero-restoring verts join runs once at the end; the L2 norm is one
    # driver-collected double folded back as a literal (bit-identical to
    # the r5 lazy crossJoin, minus its nested-broadcast job launches);
    # the state vector broadcasts while |V| is executor-resident.
    with loop_partitions(e.sparkSession, n):
        x = verts.select("v", F.lit(1.0 / math.sqrt(n)).alias("s")).transform(
            materialize
        )
        for _ in range(iterations):
            raw = (
                e.join(_state_side(x.withColumnRenamed("v", "src"), n), "src")
                .groupBy(F.col("dst").alias("v"))
                .agg(F.sum("s").alias("s"))
                .transform(materialize)
            )
            l2 = raw.agg(F.sqrt(F.sum(F.col("s") * F.col("s")))).collect()[0][0]
            if l2 is not None and l2 > 0:
                x = raw.select("v", (F.col("s") / F.lit(float(l2))).alias("s"))
            else:
                x = raw
        out = (
            verts.join(x.withColumnRenamed("s", "score"), "v", "left")
            .select("v", F.coalesce("score", F.lit(0.0)).alias("score"))
            .transform(materialize)  # independent of e/verts before unpersist
        )
    e.unpersist()
    verts.unpersist()
    return out


def betweenness(
    edges: DataFrame, sources: DataFrame, max_depth: int = 10**9
) -> DataFrame:
    """Source-sampled betweenness centrality (Brandes), directed and
    unweighted: for every s ∈ S run the forward level-synchronous BFS
    keyed (s, v) accumulating shortest-path counts σ, then the backward
    dependency sweep

        δ(v) = Σ_{w : v→w, dist(w)=dist(v)+1} σ(v)/σ(w) · (1 + δ(w)),

    and report bc(v) = Σ_s δ_s(v) over non-source rows — the UNSCALED
    sampled-source dependency sum.  Exact betweenness when S = V; with
    sampled S, multiply by n/|S| yourself to get the Brandes–Pich
    unbiased estimator (the raw sum is returned so the fixed-source SQL
    oracle and the exact S=V case share one definition).  All |S|
    sources advance in ONE keyed frontier per level — never |S|
    sequential runs.

    Forward level = one frontier⋈edges shuffle + a (s,v) anti-join +
    one σ-sum; backward level = one (s,succ) join + one σ-ratio sum.
    2·eccentricity supersteps total; only isEmpty() scalars reach the
    driver.  `max_depth` caps the sweep and is part of the contract
    (fixed-unroll oracles agree unconditionally, like k_core's cap)."""
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .persist()
    )
    e.count()
    lev0 = (
        sources.toDF("s")
        .distinct()
        .select("s", F.col("s").alias("v"), F.lit(1.0).alias("sig"))
        .transform(materialize)
    )
    levels = [lev0]
    # (s, v) state frames broadcast into the edge joins while they stay
    # executor-resident; exact level counts come free from the fixpoint
    # check, so the broadcast_state bound uses real sizes, not estimates
    level_counts = [lev0.count()]
    visited = lev0.select("s", "v")
    visited_count = level_counts[0]
    t = 0
    while t < max_depth:
        t += 1
        frontier = levels[-1]
        bfront = broadcast_state(frontier, level_counts[-1])
        nxt = (
            bfront.join(e, bfront.v == e.src)
            .select("s", F.col("dst").alias("v"), "sig")
            .join(broadcast_state(visited, visited_count), ["s", "v"], "left_anti")
            .groupBy("s", "v")
            .agg(F.sum("sig").alias("sig"))
            .transform(materialize)
        )
        cnt = nxt.count()
        if cnt == 0:
            break
        levels.append(nxt)
        level_counts.append(cnt)
        visited = visited.unionByName(nxt.select("s", "v")).transform(materialize)
        visited_count += cnt
    # backward dependency accumulation, deepest level first (δ there = 0)
    deltas = [None] * len(levels)
    deltas[-1] = levels[-1].select("s", "v", "sig", F.lit(0.0).alias("delta"))
    for i in range(len(levels) - 2, -1, -1):
        cur, succ = levels[i], deltas[i + 1]
        bcur = broadcast_state(cur, level_counts[i])
        contrib = (
            bcur.join(e, bcur.v == e.src)
            .join(
                broadcast_state(
                    succ.select(
                        "s",
                        F.col("v").alias("dst"),
                        F.col("sig").alias("sig_w"),
                        F.col("delta").alias("delta_w"),
                    ),
                    level_counts[i + 1],
                ),
                ["s", "dst"],
            )
            .groupBy("s", "v")
            .agg(
                F.sum(
                    F.col("sig") / F.col("sig_w") * (F.lit(1.0) + F.col("delta_w"))
                ).alias("acc")
            )
        )
        deltas[i] = (
            cur.join(broadcast_state(contrib, level_counts[i]), ["s", "v"], "left")
            .select(
                "s", "v", "sig", F.coalesce("acc", F.lit(0.0)).alias("delta")
            )
            .transform(materialize)
        )
    e.unpersist()
    non_source = deltas[1:]
    if not non_source:
        return lev0.select("v", F.lit(0.0).alias("bc")).where(F.lit(False))
    alld = non_source[0]
    for d in non_source[1:]:
        alld = alld.unionByName(d)
    return alld.groupBy("v").agg(F.sum("delta").alias("bc"))


def k_core(edges: DataFrame, k: int, max_rounds: int = 50) -> DataFrame:
    """k-core of the UNDIRECTED simple graph under `edges`: iteratively
    remove vertices whose degree in the surviving subgraph is < k until
    a fixpoint (capped at `max_rounds` peels — the cap is part of the
    operator's contract so a fixed-round SQL oracle computes the same
    thing; peeling is idempotent at the fixpoint, so any cap ≥ the
    convergence round count yields the exact k-core).

    Direction and self-loops are erased first (symmetrize G3 + simple
    filter); degree = number of distinct neighbors.  Returns
    (v, deg) for surviving vertices, deg = degree inside the core (≥ k).

    Each peel round is one groupBy-HAVING aggregate + two semi-joins on
    the surviving edge set — the shrinking-frontier shape of the
    reference's affected-vertex expansion (J3/O7), with the edge count
    as the fixpoint scalar.
    """
    if k < 1:
        raise ValueError("k_core: k must be >= 1")
    # materialize the simple view first: the symmetrize union reads it
    # twice, so a lazy frame re-runs the caller's edge derivation twice;
    # then repartition by src BEFORE the undirected dedup — equal
    # (src,dst) rows share a src, so the distinct aggregate runs in place
    # (one |E| shuffle, not two)
    simple = materialize(
        _distinct_edges(edges).where(F.col("src") != F.col("dst"))
    )
    p = edges.sparkSession.sparkContext.defaultParallelism
    und = (
        simple.union(
            simple.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .repartition(p, "src")
        .dropDuplicates(["src", "dst"])
        .transform(materialize)
    )
    n_edges = und.count()
    n_verts = und.select("src").distinct().count()
    for _ in range(max_rounds):
        if n_edges == 0:
            break
        keep = (
            und.groupBy(F.col("src").alias("v"))
            .agg(F.count(F.lit(1)).alias("d"))
            .where(F.col("d") >= k)
            .select("v")
        )
        nxt = (
            und.join(broadcast_state(keep.withColumnRenamed("v", "src"), n_verts), "src", "left_semi")
            .join(broadcast_state(keep.withColumnRenamed("v", "dst"), n_verts), "dst", "left_semi")
            .select("src", "dst")
            .transform(materialize)
        )
        n_next = nxt.count()
        und = nxt
        if n_next == n_edges:
            break
        n_edges = n_next
    return und.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).alias("deg")
    )


def coreness(edges: DataFrame, rounds: int = 12) -> DataFrame:
    """Full core decomposition (coreness number of EVERY vertex) by
    h-index iteration (Lü et al. 2016): c₀(v) = deg(v);
    c_{t+1}(v) = H({c_t(u) : u ∈ N(v)}) where H is the h-index — the
    largest h such that ≥ h neighbors currently hold value ≥ h.  The
    sequence is monotone non-increasing and converges to coreness(v)
    exactly; the fixed `rounds` cap is the operator's contract (an
    unrolled SQL oracle computes the identical capped sequence, and any
    cap ≥ the convergence round count yields exact coreness — unlike
    k_core, which answers one k, this labels every vertex at once).

    Undirected simple view (symmetrize + self-loop erase).  Each round
    is one edge⋈values shuffle + a per-vertex window (partitioned by
    vertex, never global): h = max over neighbor-rank rn of
    min(value_sorted_desc[rn], rn).  Skew posture: a hub's window is
    O(deg) rows on one partition — the same bound as its degree count;
    no driver traffic at any round.  Returns (v, coreness)."""
    from pyspark.sql import Window

    # same prep shape as k_core: derivation runs once, undirected dedup
    # rides the src-repartition (one |E| shuffle instead of two)
    simple = materialize(
        _distinct_edges(edges).where(F.col("src") != F.col("dst"))
    )
    p = edges.sparkSession.sparkContext.defaultParallelism
    und = (
        simple.union(
            simple.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .repartition(p, "src")
        .dropDuplicates(["src", "dst"])
        .persist()
    )
    und.count()
    c = und.groupBy(F.col("src").alias("v")).agg(F.count(F.lit(1)).alias("c"))
    c = c.transform(materialize)
    n_verts = c.count()
    w = Window.partitionBy("src").orderBy(F.desc("nc"), "dst")
    for _ in range(rounds):
        vals = und.join(
            broadcast_state(
                c.withColumnRenamed("v", "dst").withColumnRenamed("c", "nc"), n_verts
            ),
            "dst",
        )
        c = (
            vals.withColumn("rn", F.row_number().over(w))
            .groupBy(F.col("src").alias("v"))
            .agg(F.max(F.least(F.col("nc"), F.col("rn"))).alias("c"))
            .transform(materialize)
        )
    und.unpersist()
    return c.select("v", F.col("c").alias("coreness"))


def absorption_probability(
    edges: DataFrame,
    targets: DataFrame,
    rounds: int = 8,
) -> DataFrame:
    """Truncated absorbing-random-walk hit probability: the chance a
    uniform random walk started at v reaches the `targets` set within
    `rounds` steps (absorbing at targets) — the reachability-strength
    signal behind "how navigable is this page toward the trusted core"
    in web-graph QA, and the value-function recurrence of an absorbing
    Markov chain truncated at k steps.

        h_0(v)     = 1 if v ∈ T else 0
        h_{i+1}(v) = 1 if v ∈ T else mean_{(v,u)∈E} h_i(u)

    over the DISTINCT simple edge set (self-loops dropped — a universal
    self-loop graph would stall every walk in place and distort the
    truncated probabilities).  Vertices with no out-edges and ∉ T halt
    the walk: h ≡ 0.  Fixed round count is the contract (unrolled SQL
    oracle agrees unconditionally); h is monotone non-decreasing in
    rounds and converges to the absorption probability.

    Returns (v, p_absorb).  Targets must be non-empty and a subset of
    the vertex set (rows outside it could never be hit — rejected, as
    personalized_pagerank does for seeds).  Scale shape: one
    edge⋈state broadcast-hinted join + one src-keyed mean per round —
    the PPR superstep with avg in place of the damped sum.
    """
    e = _distinct_edges(edges).where(F.col("src") != F.col("dst")).persist()
    e.count()
    verts = (
        e.select(F.col("src").alias("v"))
        .union(e.select(F.col("dst").alias("v")))
        .distinct()
        .persist()
    )
    cached = [e, verts]
    validated = False
    try:
        n_verts = verts.count()
        t = targets.toDF("v").distinct().persist()
        cached.append(t)
        n_targets = t.count()
        if n_targets == 0:
            raise ValueError("absorption_probability: targets must be non-empty")
        n_outside = t.join(verts, "v", "left_anti").count()
        if n_outside:
            raise ValueError(
                f"absorption_probability: {n_outside} target(s) not in the "
                "vertex set"
            )
        validated = True
    finally:
        if not validated:  # no cached-block leak on rejected or failing targets
            for f in cached:
                f.unpersist()
    base = verts.join(
        F.broadcast(t.select("v", F.lit(True).alias("is_t"))), "v", "left"
    ).select("v", F.coalesce(F.col("is_t"), F.lit(False)).alias("is_t"))
    with loop_partitions(e.sparkSession, n_verts):
        base = base.transform(materialize)
        h = base.select(
            "v", F.when(F.col("is_t"), 1.0).otherwise(0.0).alias("h")
        ).transform(materialize)
        for _ in range(rounds):
            nb = (
                e.join(_state_side(h.withColumnRenamed("v", "dst"), n_verts), "dst")
                .groupBy(F.col("src").alias("v"))
                .agg(F.avg("h").alias("nb"))
            )
            h = (
                base.join(nb, "v", "left")
                .select(
                    "v",
                    F.when(F.col("is_t"), 1.0)
                    .otherwise(F.coalesce(F.col("nb"), F.lit(0.0)))
                    .alias("h"),
                )
                .transform(materialize)
            )
    e.unpersist()
    verts.unpersist()
    t.unpersist()
    return h.select("v", F.col("h").alias("p_absorb"))


def trustrank_spam_mass(
    edges: DataFrame,
    trusted: DataFrame,
    damping: float = 0.85,
    iterations: int = 20,
) -> DataFrame:
    """TrustRank + relative spam mass (Gyöngyi, Garcia-Molina & Pedersen,
    VLDB 2004; spam-mass companion 2006) — the classic link-spam
    diagnostic every web-graph pipeline runs next to PageRank.

    trust(v)      = personalized PageRank with the teleport vector
                    uniform over the `trusted` seed set (the TrustRank
                    recurrence is exactly PPR with trust seeds);
    rank(v)       = PageRank with the uniform teleport — expressed as
                    PPR seeded by EVERY vertex, so both columns run the
                    identical synchronous pull loop
                    (personalized_pagerank above) for `iterations`
                    rounds with universal self-loops (G4): Σ rank ≡
                    Σ trust ≡ 1, no dangling leak, and the two columns
                    are directly comparable with no rescaling;
    spam_mass(v)  = (rank(v) − trust(v)) / rank(v)  — the relative
                    spam-mass estimate; rank(v) ≥ (1−P)/N > 0 always,
                    so the division is total.  Near 1 ⇒ v's rank is
                    mostly unreachable from the trusted set (spam
                    signal); ≤ 0 ⇒ trust-dominated.

    Returns (v, rank, trust, spam_mass).  Scale shape: ONE run of the
    broadcast-state joinagg loop carrying both rank columns — the
    fused `_ppr_multi` gather sums (rank, trust) in the same aggregate,
    so the loop costs one PPR, not two (measured on the sf0.1 bench row:
    36.6 s → 18.0 s).
    """
    both = _ppr_multi(
        edges, {"rank": None, "trust": trusted}, damping, iterations
    )
    return both.select(
        "v",
        "rank",
        "trust",
        ((F.col("rank") - F.col("trust")) / F.col("rank")).alias("spam_mass"),
    )
