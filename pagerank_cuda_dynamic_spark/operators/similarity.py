"""Similarity search over an embedding column (array<float>).

Baseline: brute-force cosine top-k — vectorized matrix multiply per
partition against a broadcast query matrix (never a crossJoin).
Scale path: LSH bucketing (random hyperplane signatures) so only
bucket-colliding vectors meet, or IVF-style coarse quantization.

Also a pure-SQL pairwise cosine (F.aggregate/zip_with) for oracle parity.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame


from pagerank_cuda_dynamic_spark.functions import cosine_expr  # noqa: E402  shared JVM vocabulary


def _partials_scratch() -> str:
    """Fresh scratch dir for per-query-block top-k partials, reaped at interpreter
    exit: the DataFrame returned by brute_force_topk reads the partial
    parquet LAZILY, so the dir must outlive the call — but not the driver
    process.  It joins pagerank_bsp's registry of live scratch dirs, whose
    one exit hook reaps them all."""
    import tempfile

    from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import _LIVE_SCRATCH

    path = tempfile.mkdtemp(prefix="bftopk_partials_")
    _LIVE_SCRATCH.add(path)
    return path


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame | None = None,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_block: int = 131072,
    dtype=np.float32,
    scratch_dir: str | None = None,
) -> DataFrame:
    """Top-k cosine neighbors for every query vector (default: self top-k,
    excluding identity).  Each query block is broadcast as a dense matrix;
    each corpus partition computes a local GEMM + argpartition.  The
    distributed baseline every ANN variant is validated against.

    Block handling keeps BOTH the driver and the plan bounded:
      * ≤ query_block queries — ONE parallel collect (no toLocalIterator
        partition-by-partition drain), one mapInPandas pass, one window.
      * more — queries stream to the driver block-wise via toLocalIterator
        (driver peak = one block) and each block's per-partition partials
        are WRITTEN to `scratch_dir` (append) instead of stacked into an
        N-leg union: the final plan is one flat scan + one window no
        matter how many blocks ran.  scratch_dir defaults to a local temp
        dir (fine on local[*]); pass a shared-filesystem path on a real
        cluster.

    dtype=np.float64 gives oracle-grade numerics (DuckDB parity); float32
    is the throughput default.

    Output: (query_id, neighbor_id, cosine), k rows per query."""
    self_query = queries is None
    queries = queries if queries is not None else embeddings
    spark = embeddings.sparkSession
    sc = spark.sparkContext
    kk = k
    idc, vcc = id_col, vec_col
    dt = dtype

    if self_query and embeddings.rdd.getNumPartitions() == 1:
        # self top-k over a single-partition corpus: every row is local to
        # the one task, so ONE mapInPandas job computes the exact answer —
        # no query collect, no broadcast, no merge shuffle
        qb = query_block

        def self_kernel(batches):
            pdfs = [p for p in batches if len(p)]
            if not pdfs:
                return
            pdf = pd.concat(pdfs, ignore_index=True)
            ids = pdf[idc].to_numpy()
            m = np.stack(pdf[vcc].to_numpy()).astype(dt)
            m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-30)
            # query-chunked GEMM: sims memory stays n_local × qb, not n²
            for s in range(0, len(ids), qb):
                qs = slice(s, s + qb)
                sims = m @ m[qs].T
                sims[ids[:, None] == ids[qs][None, :]] = -np.inf
                kloc = min(kk, sims.shape[0])
                part = np.argpartition(-sims, kloc - 1, axis=0)[:kloc]
                qi = np.repeat(np.arange(sims.shape[1]), kloc)
                li = part.T.ravel()
                out = pd.DataFrame(
                    {
                        "query_id": ids[qs][qi],
                        "neighbor_id": ids[li],
                        "cosine": sims[li, qi].astype(np.float64),
                    }
                )
                out = out[np.isfinite(out["cosine"].to_numpy())]
                out["cosine"] = out["cosine"].round(6)
                yield out.sort_values(
                    ["query_id", "cosine", "neighbor_id"],
                    ascending=[True, False, True],
                    kind="stable",
                ).groupby("query_id", sort=False).head(kloc)

        return embeddings.select(id_col, vec_col).mapInPandas(
            self_kernel, "query_id long, neighbor_id long, cosine double"
        )

    def _pack(rows):
        q_ids = np.array([r[0] for r in rows], dtype=np.int64)
        qm = np.stack([np.asarray(r[1], dtype=dtype) for r in rows])
        qm /= np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-30)
        return q_ids, qm

    def _block_partials(q_ids, qm, exact=False):
        # exact=True (single corpus partition): the local top-k IS the
        # global answer, so the kernel emits it sorted/rounded and the
        # caller can skip the merge window — one job, zero shuffles
        bc = sc.broadcast((q_ids, qm))

        def kernel(batches, bc=bc, exact=exact):
            ids_q, mat_q = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                ids = pdf[id_col].to_numpy()
                m = np.stack(pdf[vec_col].to_numpy()).astype(mat_q.dtype)
                m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-30)
                # sims: (n_local, n_query); emit per-query partial top-k
                sims = m @ mat_q.T
                sims[ids[:, None] == ids_q[None, :]] = -np.inf  # drop identity
                kloc = min(kk, sims.shape[0])
                part = np.argpartition(-sims, kloc - 1, axis=0)[:kloc]
                qi = np.repeat(np.arange(sims.shape[1]), kloc)
                li = part.T.ravel()
                out = pd.DataFrame(
                    {
                        "query_id": ids_q[qi],
                        "neighbor_id": ids[li],
                        "cosine": sims[li, qi].astype(np.float64),
                    }
                )
                if exact:
                    out = out[np.isfinite(out["cosine"].to_numpy())]
                    out["cosine"] = out["cosine"].round(6)
                    out = out.sort_values(
                        ["query_id", "cosine", "neighbor_id"],
                        ascending=[True, False, True],
                        kind="stable",
                    ).groupby("query_id", sort=False).head(kk)
                yield out

        return embeddings.mapInPandas(
            kernel, "query_id long, neighbor_id long, cosine double"
        )

    def _topk(partial):
        from pyspark.sql import Window

        w = Window.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.asc("neighbor_id")
        )
        return (
            partial.where(F.col("cosine") > float("-inf"))
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
            .select(
                "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine")
            )
        )

    empty = spark.createDataFrame([], "query_id long, neighbor_id long, cosine double")
    # probe with limit(query_block+1): cheaper than a full count and enough
    # to pick the path (a count would scan everything just to learn "big")
    probe = queries.select(id_col, vec_col).limit(query_block + 1).collect()
    if not probe:
        return empty
    if len(probe) <= query_block:
        if embeddings.rdd.getNumPartitions() == 1:
            return _block_partials(*_pack(probe), exact=True)
        return _topk(_block_partials(*_pack(probe)))

    # block-streaming path; per-block partial writes keep the plan flat
    import itertools

    # Callers that pass scratch_dir own its lifecycle; ours reaps at exit.
    scratch = scratch_dir or _partials_scratch()
    rows_it = queries.select(id_col, vec_col).toLocalIterator(
        prefetchPartitions=True
    )
    wrote = False
    while True:
        rows = list(itertools.islice(rows_it, query_block))
        if not rows:
            break
        _block_partials(*_pack(rows)).write.mode("append").parquet(scratch)
        wrote = True
    if not wrote:
        return empty
    return _topk(spark.read.parquet(scratch))


def hyperplane_signature(
    vec_col: str, dim: int, bits: int = 16, seed: int = 42
) -> F.Column:
    """Random-hyperplane LSH signature (bits-wide int) computed JVM-side:
    bit b = sign(v · h_b) where h_b is a deterministic ±1 hyperplane derived
    from xxhash-free seeded pattern (literal array baked into the plan)."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((bits, dim))
    sig = F.lit(0).cast("long")
    for b in range(bits):
        coeff = F.array(*[F.lit(float(c)) for c in planes[b]])
        dot = F.aggregate(
            F.zip_with(F.col(vec_col), coeff, lambda x, c: x * c),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig = sig + F.when(dot > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
    return sig


def lsh_topk(
    embeddings: DataFrame,
    k: int = 10,
    bits: int = 12,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: bucket by hyperplane signature, brute-force within
    bucket (plus the bucket's 1-bit neighbors would raise recall; v1 uses
    exact-bucket only).  The scale path: the GEMM never exceeds a bucket."""
    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])
    sig = hyperplane_signature(vec_col, dim, bits, seed)
    tagged = embeddings.select(id_col, vec_col, sig.alias("bucket")).persist()

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"query_id": [], "neighbor_id": [], "cosine": []}).astype(
                {"query_id": "int64", "neighbor_id": "int64", "cosine": "float64"}
            )
        ids = pdf[id_col].to_numpy()
        m = np.stack(pdf[vec_col].to_numpy()).astype(np.float32)
        m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-30)
        sims = m @ m.T
        np.fill_diagonal(sims, -np.inf)
        kloc = min(k, len(pdf) - 1)
        part = np.argpartition(-sims, kloc - 1, axis=1)[:, :kloc]
        qi = np.repeat(np.arange(len(pdf)), kloc)
        ni = part.ravel()
        return pd.DataFrame(
            {
                "query_id": ids[qi],
                "neighbor_id": ids[ni],
                "cosine": sims[qi, ni].astype(np.float64),
            }
        )

    out = tagged.groupBy("bucket").applyInPandas(
        kernel, "query_id long, neighbor_id long, cosine double"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        out.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"))
    )


def pairwise_cosine_sql(
    embeddings: DataFrame,
    min_cosine: float = 0.95,
    id_limit: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine ≥ threshold via pure SQL expressions (the
    oracle-parity formulation; quadratic — gate with id_limit)."""
    e = embeddings.select(id_col, vec_col)
    if id_limit is not None:
        e = e.where(F.col(id_col) < id_limit)
    a = e.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = e.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cosine_expr("va", "vb"))
        .where(F.col("cosine") >= min_cosine)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


def _lloyd_refine(
    embeddings: DataFrame,
    cm: np.ndarray,
    n_iters: int,
    vec_col: str,
) -> np.ndarray:
    """Distributed Lloyd refinement of IVF centroids (spherical k-means).

    Each pass assigns every vector to its nearest centroid inside an Arrow
    kernel and emits per-batch PARTIAL sums (≤ n_cells rows per batch); the
    driver reduces the O(partitions × n_cells × dim) partials and
    re-normalizes.  Driver traffic is independent of corpus size — the
    map-side combine is the same shape Spark's own HashAggregate would
    produce, kept in numpy because the value is a dense vector."""
    sc = embeddings.sparkSession.sparkContext
    dim = cm.shape[1]
    for _ in range(n_iters):
        bc = sc.broadcast(cm)

        def partial(batches, bc=bc):
            cmat = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                m = np.stack(pdf[vec_col].to_numpy()).astype(np.float32)
                mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-30)
                cell = np.argmax(mn @ cmat.T, axis=1)
                sums = np.zeros((cmat.shape[0], cmat.shape[1]), np.float64)
                np.add.at(sums, cell, mn.astype(np.float64))
                cnts = np.bincount(cell, minlength=cmat.shape[0]).astype(np.int64)
                nz = np.flatnonzero(cnts)
                yield pd.DataFrame(
                    {
                        "cell": nz.astype("int32"),
                        "psum": list(sums[nz]),
                        "pcnt": cnts[nz],
                    }
                )

        parts = embeddings.select(vec_col).mapInPandas(
            partial, "cell int, psum array<double>, pcnt long"
        ).toPandas()
        bc.destroy()
        if not len(parts):
            break
        accum = np.zeros((cm.shape[0], dim), np.float64)
        counts = np.zeros(cm.shape[0], np.int64)
        for row in parts.itertuples(index=False):
            accum[row.cell] += np.asarray(row.psum)
            counts[row.cell] += row.pcnt
        new = cm.astype(np.float64).copy()  # empty cells keep their centroid
        nz = counts > 0
        new[nz] = accum[nz] / counts[nz, None]
        cm = (
            new / np.maximum(np.linalg.norm(new, axis=1, keepdims=True), 1e-30)
        ).astype(np.float32)
    return cm


def ivf_topk(
    embeddings: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    lloyd_iters: int = 2,
) -> DataFrame:
    """IVF-style approximate top-k: coarse quantization into n_cells around
    hash-picked seed centroids refined by `lloyd_iters` distributed
    spherical-k-means passes (deterministic given the seed); every vector is
    indexed into its nearest cell and QUERIES probe their n_probe nearest
    cells.  The GEMM never exceeds (cell population × probing queries) — the
    IVF scale shape; raise n_cells with corpus size to bound cell
    population.  `lloyd_iters=0` recovers the raw hash-pick baseline."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    # deterministic centroid pick: smallest xxhash64(id, seed) rows via
    # sort+limit — Catalyst plans this as TakeOrderedAndProject (per-task
    # top-N, merged on the driver), NOT a single-task global sort
    cents_pdf = (
        embeddings.select(id_col, vec_col)
        .withColumn("hk", F.xxhash64(F.col(id_col), F.lit(seed)))
        .orderBy("hk")
        .limit(n_cells)
        .drop("hk")
        .toPandas()
    )
    cm = np.stack(cents_pdf[vec_col].to_numpy()).astype(np.float32)
    cm /= np.maximum(np.linalg.norm(cm, axis=1, keepdims=True), 1e-30)
    if lloyd_iters > 0:
        cm = _lloyd_refine(embeddings, cm, lloyd_iters, vec_col)
    sc = embeddings.sparkSession.sparkContext
    bc = sc.broadcast(cm)
    npb = min(n_probe, len(cm))

    def assign(batches):
        cmat = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float32)
            mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-30)
            sims = mn @ cmat.T
            order = np.argsort(-sims, axis=1)[:, :npb]
            out = pdf.loc[pdf.index.repeat(npb)].reset_index(drop=True)
            out["cell"] = order.ravel().astype(np.int32)
            # role: first assignment indexes the vector; later ones are
            # probe-only (the vector queries the cell but is not a member)
            out["is_member"] = np.tile(
                np.arange(npb) == 0, len(pdf)
            )
            yield out[[id_col, vec_col, "cell", "is_member"]]

    tagged = embeddings.select(id_col, vec_col).mapInPandas(
        assign, f"{id_col} long, {vec_col} array<float>, cell int, is_member boolean"
    )

    kk = k

    def cell_knn(key, pdf: pd.DataFrame) -> pd.DataFrame:
        members = pdf[pdf["is_member"]]
        if len(members) == 0 or len(pdf) < 2:
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "cosine": []}
            ).astype({"query_id": "int64", "neighbor_id": "int64", "cosine": "float64"})
        qm = np.stack(pdf[vec_col].to_numpy()).astype(np.float32)
        qm /= np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-30)
        mm = np.stack(members[vec_col].to_numpy()).astype(np.float32)
        mm /= np.maximum(np.linalg.norm(mm, axis=1, keepdims=True), 1e-30)
        sims = qm @ mm.T
        qids = pdf[id_col].to_numpy()
        mids = members[id_col].to_numpy()
        sims[qids[:, None] == mids[None, :]] = -np.inf
        kloc = min(kk, sims.shape[1])
        part = np.argpartition(-sims, kloc - 1, axis=1)[:, :kloc]
        qi = np.repeat(np.arange(len(pdf)), kloc)
        ni = part.ravel()
        return pd.DataFrame(
            {
                "query_id": qids[qi],
                "neighbor_id": mids[ni],
                "cosine": sims[qi, ni].astype(np.float64),
            }
        )

    out = tagged.groupBy("cell").applyInPandas(
        cell_knn, "query_id long, neighbor_id long, cosine double"
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        out.where(F.col("cosine") > float("-inf"))
        .withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )


def embedding_centroids(
    embeddings: DataFrame,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group mean embedding, relational form — the centroid/drift
    diagnostic every embedding pipeline runs (class prototypes, corpus
    drift between snapshots, cluster quality):

        (group, dim, centroid, n)   centroid = mean of component `dim`

    posexplode → one (group, dim) average: map-side combinable, state =
    |groups|·D rows, no arrays cross the shuffle — the exact shape that
    scales to 100 TB.  Consumers needing array form collect_list over
    the dim order (features.collect_features pattern).
    """
    ex = embeddings.select(
        F.col(group_col).alias("g"),
        F.posexplode(F.col(vec_col)).alias("dim", "x"),
    )
    return (
        ex.groupBy("g", "dim")
        .agg(
            F.avg(F.col("x").cast("double")).alias("centroid"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.col("g").alias(group_col), "dim", "centroid", "n"
        )
    )


def gram_covariance(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    center: bool = True,
) -> DataFrame:
    """Covariance (default) or raw Gram matrix of the embedding cloud,
    relational form (i, j, cov) — the D×D input of PCA / whitening /
    Mahalanobis.  cov_ij = Σ(x_i−μ_i)(x_j−μ_j)/n (population form).

    The N·D² explode a pure-relational formulation needs is the wrong
    plan at scale, so partial D×D float64 Gram blocks are accumulated
    per Arrow batch inside ONE mapInPandas pass (X.T @ X per batch —
    vectorized, never per-row Python) and merged with one D²-row
    aggregate; the mean for centering comes from the same pass (sum
    vector rides with the Gram block).  Driver never sees vectors.

    Returns D² rows (i, j, cov), j ≥ i (symmetric upper triangle).
    """
    import pandas as pd  # noqa: F811  (module already imports pandas)

    vc = vec_col

    def gram_blocks(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray(pdf[vc].tolist(), dtype=np.float64)
            G = X.T @ X
            s = X.sum(axis=0)
            d = G.shape[0]
            iu = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "i": iu[0].astype("int32"),
                    "j": iu[1].astype("int32"),
                    "g": G[iu],
                    "si": s[iu[0]],
                    "sj": s[iu[1]],
                    "n": np.full(len(iu[0]), len(pdf), dtype="int64"),
                }
            )

    parts = embeddings.select(vc).mapInPandas(
        gram_blocks, "i int, j int, g double, si double, sj double, n long"
    )
    agg = parts.groupBy("i", "j").agg(
        F.sum("g").alias("g"),
        F.sum("si").alias("si"),
        F.sum("sj").alias("sj"),
        F.sum("n").alias("n"),
    )
    if not center:
        return agg.select("i", "j", (F.col("g") / F.col("n")).alias("cov"))
    # cov = G/n − μ_i·μ_j
    return agg.select(
        "i",
        "j",
        (
            F.col("g") / F.col("n")
            - (F.col("si") / F.col("n")) * (F.col("sj") / F.col("n"))
        ).alias("cov"),
    )


def pca_project(
    embeddings: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PCA projection to the top-k principal components: eigendecompose
    the D×D covariance (gram_covariance above) on the DRIVER — D×D is
    KBs regardless of corpus size, the one matrix a driver should ever
    hold — then project every vector with one vectorized mapInPandas
    matmul against the broadcast D×k basis.

    Determinism: np.linalg.eigh on the same float64 matrix, components
    ordered by descending eigenvalue, each eigenvector sign-fixed so its
    largest-|coefficient| entry is positive (eigenvectors are only
    defined up to sign).  Near-degenerate eigenvalues can still permute
    between BLAS builds — cross-ENGINE value checks therefore stop at
    the covariance (driver query `embedding_covariance`); projection
    correctness is pinned by the NumPy-parity pytest.

    Returns (id, comp:int, value:double)."""
    cov_rows = gram_covariance(embeddings, vec_col=vec_col).collect()
    d = max(r.j for r in cov_rows) + 1
    C = np.zeros((d, d))
    for r in cov_rows:
        C[r.i, r.j] = r.cov
        C[r.j, r.i] = r.cov
    vals, vecs = np.linalg.eigh(C)
    order = np.argsort(vals)[::-1][:k]
    W = vecs[:, order]
    for c in range(W.shape[1]):
        m = np.argmax(np.abs(W[:, c]))
        if W[m, c] < 0:
            W[:, c] = -W[:, c]
    spark = embeddings.sparkSession
    bW = spark.sparkContext.broadcast(W)

    ic, vc = id_col, vec_col

    def project(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray(pdf[vc].tolist(), dtype=np.float64)
            P = X @ bW.value
            n, kk = P.shape
            yield pd.DataFrame(
                {
                    "id": np.repeat(pdf[ic].to_numpy(), kk),
                    "comp": np.tile(np.arange(kk, dtype="int32"), n),
                    "value": P.ravel(),
                }
            )

    return embeddings.select(ic, vc).mapInPandas(
        project, "id long, comp int, value double"
    ).withColumnRenamed("id", ic)


def quantize_embeddings(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector affine uint8 quantization — the FAISS-SQ8-shaped 4×
    storage cut a large-scale embedding store applies before ANN
    serving:

        zero  = min(x),   scale = (max(x) − min(x)) / 255,
        q_i   = floor((x_i − zero) / scale + 0.5)   ∈ 0..255

    (scale 0 ⇒ constant vector, every q = 0).  Dequantization
    x̂_i = zero + q_i·scale reconstructs within scale/2 per element.

    Pure built-ins: array_min/array_max read the stats off the array
    column WITHOUT exploding; one posexplode emits the codes.  floor(v
    + 0.5) replaces round() so no engine's half-even vs half-up
    convention is in play — with identical float32 inputs promoted to
    double, every engine computes the identical q.  Relational output
    (id, dim, q, zero, scale); group back with collect_list for the
    packed form.
    """
    mn = F.array_min(F.col(vec_col)).cast("double")
    mx = F.array_max(F.col(vec_col)).cast("double")
    base = embeddings.select(
        F.col(id_col).alias("id"),
        F.posexplode(vec_col).alias("dim", "x"),
        mn.alias("zero"),
        ((mx - mn) / F.lit(255.0)).alias("scale"),
    )
    q = F.when(
        F.col("scale") > 0,
        F.floor(
            (F.col("x").cast("double") - F.col("zero")) / F.col("scale")
            + F.lit(0.5)
        ),
    ).otherwise(F.lit(0))
    return base.select(
        "id",
        "dim",
        q.cast("int").alias("q"),
        F.round("zero", 6).alias("zero"),
        F.round("scale", 6).alias("scale"),
    )
