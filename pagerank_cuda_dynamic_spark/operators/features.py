"""GNN-style feature propagation over the link graph.

One propagation hop is the mean-aggregation layer of GraphSAGE /
simplified-GCN (SGC):  x'_v = mean{ x_u : u → v }  (optionally including
v's own features as one more "neighbor").  k hops of this — with no
nonlinearity — is exactly SGC's S^k X preprocessing, the standard way to
precompute GNN features for 100 TB-scale training without a training
loop.

Layout: features are held RELATIONALLY as (v, dim, val) rows, not
array columns.  One hop is then a single edge⋈feature shuffle join +
one (dst, dim)-keyed average — all JVM-side built-ins, no Python, and
hub skew spreads across the dim key for free.  The moved volume is
|E|·d values, which ANY implementation pays; the relational form lets
Catalyst/AQE handle it and gives the DuckDB oracle a 1:1 shape
(unnest WITH ORDINALITY).

`explode_features` / `collect_features` convert between the array-column
form (embeddings.parquet) and the relational form at the boundary.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..plans.barrier import broadcast_state, materialize

# Widest uniform feature set that takes the packed-array hop, which
# aggregates one avg column per dim (keeps codegen sane).  Wider sets fall
# back to the relational hop, which moves |E|·d exploded rows through the
# shuffle: same results, much slower.
ARRAY_HOP_MAX_DIMS = 512


def explode_features(feats: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, array<float>) → relational (v, dim, val double); dim 0-based."""
    return feats.select(
        F.col(id_col).alias("v"),
        F.posexplode(vec_col).alias("dim", "val"),
    ).withColumn("val", F.col("val").cast("double"))


def collect_features(rel: DataFrame) -> DataFrame:
    """Relational (v, dim, val) → (v, array<double>) ordered by dim."""
    return rel.groupBy("v").agg(
        F.array_sort(
            F.collect_list(F.struct("dim", "val"))
        ).getField("val").alias("x")
    )


def propagate_features(
    edges: DataFrame,
    feats: DataFrame,
    hops: int = 1,
    include_self: bool = False,
) -> DataFrame:
    """k-hop mean propagation of relational features (v, dim, val) along
    edge direction src → dst.

    Per hop: x'_v = mean over {x_u : u→v} ∪ ({x_v} if include_self).
    Vertices with no in-edges (and include_self=False) drop out of the
    next hop — the operator propagates information, it does not invent
    it.  include_self=True is the GCN-renormalization analogue
    (self-loop added to every vertex) and keeps every featured vertex
    alive.

    Every vertex carrying the same contiguous dims 0..d-1, with
    d <= ARRAY_HOP_MAX_DIMS, takes the packed-array hop; anything else
    (ragged, sparse or wider dim sets) takes the slower relational hop."""
    if hops < 0:
        raise ValueError("propagate_features: hops must be >= 0")
    e = edges.select("src", "dst").distinct()
    if include_self:
        verts = (
            e.select(F.col("src").alias("v"))
            .unionByName(e.select(F.col("dst").alias("v")))
            .distinct()
        )
        # distinct again: the input may already contain (v, v) edges, and
        # "∪ {x_v}" must weight self exactly once
        e = e.unionByName(
            verts.select(F.col("v").alias("src"), F.col("v").alias("dst"))
        ).distinct()
    x = feats.select("v", "dim", "val")
    if hops == 0:
        return x
    e = e.persist()
    e.count()
    # Packed-broadcast fast path: when every vertex carries the same
    # contiguous dim set 0..d-1 (the explode_features shape), the state
    # broadcasts as ONE array row per vertex and the dims explode AFTER
    # the edge join — a d-fold smaller broadcast build and a cheaper
    # probe, while the (dst, dim) mean aggregate sees the IDENTICAL row
    # multiset in the identical per-partition order (each probe row
    # contributes exactly one value per (dst, dim) group), so results are
    # bit-equal to the relational hop.  Ragged or sparse dim sets (where
    # array positions would mislabel dims) keep the original per-(v, dim)
    # path.  (A Summarizer.mean vector aggregate was tried and rejected:
    # its running-mean update is layout-dependent and broke fastrp's
    # exact repartition-invariance contract; collect_list folding was
    # faster still but holds unbounded per-hub state — not scale-safe.)
    # ONE packing pass doubles as the shape check: the caller's (possibly
    # join-heavy) feature derivation executes exactly once, into the
    # checkpointed per-vertex (dim, val) pair arrays the first hop's
    # broadcast build then reads directly.
    x_pack = materialize(
        x.groupBy("v").agg(
            F.array_sort(F.collect_list(F.struct("dim", "val"))).alias("pairs")
        )
    )
    row = x_pack.agg(
        F.count(F.lit(1)).alias("nv"),
        F.countDistinct(F.size("pairs")).alias("nd"),
        F.min(F.size("pairs")).alias("d"),
        F.min(
            F.expr("forall(transform(pairs, (p, i) -> p.dim = i), b -> b)").cast("int")
        ).alias("contiguous"),
    ).collect()[0]
    uniform = (
        row["nv"] > 0
        and row["nd"] == 1
        and row["contiguous"] == 1
        and row["d"] <= ARRAY_HOP_MAX_DIMS
    )
    if uniform:
        x_arr = x_pack.select("v", F.col("pairs").getField("val").alias("x"))
        for _ in range(hops):
            # array-form in AND out: the hop aggregates d avg columns per
            # dst (no |E|·d explode through the shuffle) and re-arrays
            # them, so the per-hop collect_features re-pack disappears
            x_arr = _mean_hop_arr(e, x_arr, row["nv"], int(row["d"]))
        e.unpersist()
        return x_arr.select("v", F.posexplode("x").alias("dim", "val"))
    x_rows = x.count()
    for _ in range(hops):
        x = _mean_hop(e, x, x_rows)
        x_rows = x.count()
    e.unpersist()
    return x


def _mean_hop_arr(
    e_prepped: DataFrame, x_arr: DataFrame, n_verts: int, dims: int
) -> DataFrame:
    """One in-neighbor mean hop, array form in AND out: broadcast |V|
    array rows, then ONE dst-keyed aggregate with `dims` avg columns —
    the probe never explodes to |E|·d rows, partial (map-side) aggregation
    compresses to |V|·d before the shuffle, and the group-key space is |V|
    instead of |V|·d.  Per (dst, dim) each avg consumes the identical
    value multiset in the identical probe-row order as the r5 exploded
    (dst, dim) aggregate (x[i] is extracted per probe row in row order),
    so the means agree.  Returns (v, x: array<double>) ordered by dim."""
    return (
        e_prepped.join(
            broadcast_state(x_arr.withColumnRenamed("v", "src"), n_verts), "src"
        )
        .groupBy(F.col("dst").alias("v"))
        .agg(*[F.avg(F.col("x")[i]).alias(f"_m{i}") for i in range(dims)])
        .select("v", F.array(*[F.col(f"_m{i}") for i in range(dims)]).alias("x"))
        .transform(materialize)
    )


def _mean_hop(e_prepped: DataFrame, x: DataFrame, x_rows: int) -> DataFrame:
    """One in-neighbor mean hop over an already-deduped (and optionally
    self-looped) edge table — shared by propagate_features and
    fastrp_embeddings so edge prep (dedup/persist/count) runs once per
    OPERATOR, not once per hop.  The |V|·d-row feature table broadcasts
    into the edge join while executor-resident (real counts —
    materialized frames carry no usable size estimate), so the edge
    side keeps its partitioning across hops; past the bound this falls
    back to the |E|·d shuffle any implementation pays."""
    return (
        e_prepped.join(
            broadcast_state(x.withColumnRenamed("v", "src"), x_rows), "src"
        )
        .groupBy(F.col("dst").alias("v"), F.col("dim"))
        .agg(F.avg("val").alias("val"))
        .transform(materialize)
    )


def fastrp_embeddings(
    edges: DataFrame,
    dims: int = 8,
    weights: "tuple[float, ...]" = (0.5, 1.0),
    self_weight: float = 0.0,
    sparsity: int = 3,
    include_self: bool = True,
    normalize: bool = False,
    sign_hash=None,
) -> DataFrame:
    """FastRP node embeddings (Chen, Sui, Goyal & Rohrbach, CIKM 2019):
    very sparse random projection of the adjacency's hop powers,

        emb(v) = self_weight·R(v) + Σ_j weights[j] · (M^(j+1) R)(v),

    where R is the deterministic Achlioptas projection — entry (v, dim)
    is +√s / −√s with probability 1/(2s) each, 0 otherwise, decided by
    `sign_hash(v || ':' || dim) mod 2s` — and M is the in-neighbor mean
    operator (one `propagate_features` hop; include_self=True is the
    GCN-renormalization that keeps in-degree-0 vertices alive).  This
    is THE embedding algorithm that scales where walk-based skip-gram
    training does not: k relational hop joins, no training loop, no
    Python in the plan.

    Deterministic given the hash: reruns, repartitions and other
    engines agree value-for-value — `sign_hash` defaults to xxhash64,
    and a caller can pass an md5-derived column fn for cross-engine
    (DuckDB) replay, exactly like simhash_64's token_hash.

    Returns relational (v, dim, val) — `collect_features` packs arrays.
    `normalize=True` L2-normalizes each vertex row (zero rows stay 0).
    Scale shape: |V|·d state rows through the broadcast-state hop join;
    the |E|·d moved volume is the algorithm's floor.
    """
    if not weights:
        raise ValueError("fastrp_embeddings: weights must be non-empty")
    if self_weight == 0.0 and all(w == 0.0 for w in weights):
        raise ValueError(
            "fastrp_embeddings: all weights are zero — nothing to combine"
        )
    if dims < 1:
        raise ValueError("fastrp_embeddings: dims must be >= 1")
    if sparsity < 1:
        raise ValueError("fastrp_embeddings: sparsity must be >= 1")
    if sign_hash is None:
        sign_hash = F.xxhash64
    # the caller's edge derivation runs EXACTLY once: every later consumer
    # (vertex union, self-loop union, r0 projection, final combine) reads
    # this checkpoint instead of replaying the upstream joins — the old
    # lazy prefixes re-ran the full derivation 3-4 times per call
    e = materialize(edges.select("src", "dst").distinct())
    verts = materialize(
        e.select(F.col("src").alias("v"))
        .unionByName(e.select(F.col("dst").alias("v")))
        .distinct()
    )
    root = math.sqrt(float(sparsity))
    # the deterministic Achlioptas projection, built DIRECTLY in packed
    # array form: one array-of-d-signs expression per vertex row (same
    # hash per (v, dim) as the relational construction — concat_ws
    # renders the dim literal identically), so every hop's broadcast
    # build ships |V| array rows instead of |V|·d scalar rows
    # (_mean_hop_arr; bit-identical per-dim averages).
    dim_cols = []
    for dim in range(dims):
        m = F.pmod(
            sign_hash(F.concat_ws(":", F.col("v").cast("string"), F.lit(dim))),
            F.lit(2 * sparsity),
        )
        dim_cols.append(
            F.when(m == 0, F.lit(root))
            .when(m == 1, F.lit(-root))
            .otherwise(F.lit(0.0))
        )
    r0_arr = verts.select("v", F.array(*dim_cols).alias("x"))
    # edge prep ONCE for all k hops: self-loops, dedup, persist (the
    # per-call prep inside propagate_features would re-dedup + re-persist
    # the same table k times — _mean_hop_arr is the shared prepped-edge hop)
    if include_self:
        e = e.unionByName(
            verts.select(F.col("v").alias("src"), F.col("v").alias("dst"))
        ).distinct()
    # canonical within-partition row order: the hop aggregate sums each
    # (dst, dim) group's values in probe-row order, and a shuffle's
    # within-partition arrival order depends on the INPUT layout — the
    # repartition-invariance contract was otherwise held up only by
    # fetch-order luck (a 1-ulp divergence surfaced whenever the job
    # sequence around the hop changed).  Partition CONTENTS are already
    # deterministic (hash); the sort pins the order within them.
    e = e.sortWithinPartitions("src", "dst").persist()
    e.count()
    # the d sign hashes per vertex compute once; the final combine and the
    # first hop's broadcast build both read the checkpoint
    r0_arr = materialize(r0_arr)
    parts = []
    if self_weight != 0.0:
        parts.append(
            r0_arr.select("v", F.posexplode("x").alias("dim", "val")).select(
                "v", "dim", (F.col("val") * F.lit(self_weight)).alias("val")
            )
        )
    h_arr = r0_arr  # array-form build side of the next hop
    n_verts = verts.count()
    for w in weights:
        # array in/out: no per-hop collect_features re-pack; the combine
        # reads a lazy posexplode of the materialized hop frame
        h_arr = _mean_hop_arr(e, h_arr, n_verts, dims)
        if w != 0.0:
            parts.append(
                h_arr.select("v", F.posexplode("x").alias("dim", "val")).select(
                    "v", "dim", (F.col("val") * F.lit(w)).alias("val")
                )
            )
    # hop frames are materialized, so nothing downstream re-reads e
    e.unpersist()
    emb = parts[0]
    for p in parts[1:]:
        emb = emb.unionByName(p)
    emb = emb.groupBy("v", "dim").agg(F.sum("val").alias("val"))
    if normalize:
        from pyspark.sql import Window

        # full-partition frame ordered by dim: the norm sums the squares in
        # DIM order regardless of physical layout — an unordered window
        # sums in shuffle-arrival order, which is what the repartition-
        # invariance contract (and its test) actually depends on
        nrm = F.sqrt(
            F.sum(F.col("val") * F.col("val")).over(
                Window.partitionBy("v")
                .orderBy("dim")
                .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            )
        )
        emb = emb.select(
            "v",
            "dim",
            F.when(nrm > 0, F.col("val") / nrm).otherwise(F.lit(0.0)).alias("val"),
        )
    return emb
