"""Deduplication operators for large-scale training-data pipelines.

Five families, each expressed Spark-first (built-in JVM expressions in the
hot path; Arrow kernels only where bit manipulation demands it):
  exact         — hash-groupBy on raw text
  fingerprint   — normalized sorted-token key groups (OpenRefine-style)
  ngram-jaccard — exact Jaccard over token shingles for candidate pairs
  minhash-LSH   — shingle → k minhashes (xxhash64) → banded bucket join
  simhash       — 64-bit sign-of-weighted-bit-sums, hamming-banded

Scale posture: every family reduces to groupBy/join on a derived key —
shuffle-by-key, no cross join, no driver collection.  The LSH band join is
the classic near-dup-at-petabyte shape (band buckets are the salted keys).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from pagerank_cuda_dynamic_spark.functions import (  # shared JVM vocabulary
    TOKEN_RE,
    tokens as _tokens,
    word_shingles as _shingles_expr,
)


def _text_keys(text_col: str) -> list[F.Column]:
    """Constant-size dedup keys: xxhash64 (cheap bucketing) + sha256
    (disambiguation).  Grouping by raw text would shuffle the whole corpus
    as keys at 100 TB; these 72 bytes/row replace it.  sha256 equality ⇔
    byte equality for any practical purpose (2⁻¹²⁸ collision odds)."""
    return [
        F.xxhash64(F.col(text_col)).alias("h64"),
        F.sha2(F.col(text_col), 256).alias("hsha"),
    ]


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical texts: (keeper_id, n_copies) per duplicated
    text.  keeper = min id (deterministic)."""
    return (
        docs.groupBy(*_text_keys(text_col))
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
        .where(F.col("n_copies") > 1)
        .select("keeper_id", "n_copies")
    )


def dedup_exact(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one row per distinct text (min id wins)."""
    keep = (
        docs.groupBy(*_text_keys(text_col))
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return docs.join(keep, id_col, "left_semi")


def fingerprint_key(text_col: str = "text") -> F.Column:
    """Normalization fingerprint: sorted distinct lowercase tokens joined by
    a single space — catches token-order / whitespace / casing variants."""
    return F.array_join(F.array_sort(F.array_distinct(_tokens(text_col))), " ")


def fingerprint_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    return (
        docs.select(id_col, fingerprint_key(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
        .where(F.col("n_copies") > 1)
        .select("keeper_id", "n_copies")
    )


_shingles = _shingles_expr


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_df: int = 10_000,
    include_counts: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs ≥ threshold.

    Inverted-index shape: explode shingles → self-join on shingle →
    per-pair intersection count → |A∪B| = |A|+|B|−|A∩B|.  No cross join:
    only docs sharing ≥1 shingle ever meet.  Output (id_a, id_b, jaccard),
    id_a < id_b.

    max_shingle_df caps each shingle's document frequency BEFORE the pair
    join: one shingle shared by d docs generates d² candidate rows, so a
    single boilerplate phrase at 100 TB would explode the shuffle
    quadratically.  Capped shingles contribute nothing to intersections
    (sizes stay exact), so reported jaccard is a lower bound for pairs
    whose overlap is dominated by ultra-common shingles — and exact
    whenever no shared shingle exceeds the cap (always true at test SF)."""
    sh = docs.select(
        F.col(id_col).alias("id"), F.explode(_shingles(text_col, k)).alias("s")
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    rare = (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= max_shingle_df)
        .select("s")
    )
    sh = sh.join(rare, "s", "left_semi")
    a = sh.withColumnRenamed("id", "id_a")
    b = sh.withColumnRenamed("id", "id_b")
    inter = (
        a.join(b, "s")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    # no broadcast hint: `sizes` is O(|docs|) — unbounded at corpus scale;
    # Catalyst/AQE picks broadcast when the measured side is small enough
    out = (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select(
            "id_a",
            "id_b",
            F.round("jaccard", 6).alias("jaccard"),
            # include_counts: exact-integer pair diagnostics (shared and
            # total distinct shingles) — the cross-engine-exact weight for
            # downstream ranking/matching where a rounded float would not be
            *(
                [
                    F.col("inter").alias("n_common"),
                    (F.col("sz_a") + F.col("sz_b") - F.col("inter")).alias(
                        "n_union"
                    ),
                ]
                if include_counts
                else []
            ),
        )
    )
    return out


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 32,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn=None,
) -> DataFrame:
    """(id, sig: array<long>) — sig[j] = min over shingles of
    hash_fn(shingle, seed=j) (default xxhash64).  Entirely JVM-side
    expressions.  hash_fn: (Column, int) -> int64 Column; a cross-engine
    hash (e.g. md5-derived) makes the whole LSH pipeline reproducible in
    ANSI SQL for oracle checking."""
    if hash_fn is None:
        hash_fn = lambda s, j: F.xxhash64(s, F.lit(j))  # noqa: E731
    sh = F.col("_sh")
    sig = F.array(
        *[
            F.array_min(F.transform(sh, lambda s, j=j: hash_fn(s, j)))
            for j in range(num_hashes)
        ]
    )
    return docs.select(
        F.col(id_col).alias("id"), _shingles(text_col, k).alias("_sh")
    ).select("id", sig.alias("sig"))


def minhash_lsh_candidates(
    docs: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn=None,
) -> DataFrame:
    """LSH candidate pairs: signature split into `bands` bands of
    num_hashes/bands rows; docs colliding in ANY band are candidates.
    (id_a < id_b, distinct.)  Band bucket = (band_idx, hash(band slice)) —
    the shuffle key; at 100 TB this is the only join, and its key space is
    wide (bands × 2^64)."""
    r = num_hashes // bands
    sigs = minhash_signatures(docs, num_hashes, k, id_col, text_col, hash_fn)
    banded = sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(*[F.col("sig")[bi * r + j] for j in range(r)]).alias("bkey"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bkey")
    a = banded.withColumnRenamed("id", "id_a")
    b = banded.withColumnRenamed("id", "id_b")
    return (
        a.join(b, ["band", "bkey"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash+LSH near-dup: LSH candidates verified by exact shingle
    Jaccard ≥ threshold (candidate set is small; verification is the same
    inverted-index computation restricted by semi-join)."""
    from ..plans.barrier import materialize

    # the candidate table is read three times below (both legs of the
    # id union + the final semi-join); without a barrier each reference
    # re-runs the whole signature/banding subtree over the corpus
    cands = materialize(
        minhash_lsh_candidates(docs, num_hashes, bands, k, id_col, text_col)
    )
    cand_ids = (
        cands.select(F.col("id_a").alias("id"))
        .unionByName(cands.select(F.col("id_b").alias("id")))
        .distinct()
        .withColumnRenamed("id", id_col)
    )
    subset = docs.join(cand_ids, id_col, "left_semi")
    exact = ngram_jaccard_pairs(subset, threshold, k, id_col, text_col)
    return exact.join(cands, ["id_a", "id_b"], "left_semi")


def dedup_clusters(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Near-dup pair list → (doc_id, keeper_id): connected components over
    the pair graph via the fully distributed min-label loop, keeper = min
    doc id in the cluster.  The canonical last stage of every near-dup
    pipeline (pairs from ngram_jaccard / minhash / simhash compose
    directly); transitive closures merge chains A~B~C into one keeper even
    when A and C never paired.

    Routing choice: doc ids are sparse (or strings), which only the
    join/aggregate engine takes (`vertices=`), and near-dup clusters have
    tiny diameters (every member pairs with almost every other), so its
    min-label frontier loop converges in 2–3 rounds at one cheap join
    each."""
    from pagerank_cuda_dynamic_spark.operators.components import (
        connected_components_joinagg,
    )

    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    verts = (
        pairs.select(F.col(id_a).alias("v"))
        .unionByName(pairs.select(F.col(id_b).alias("v")))
        .distinct()
    )
    cc = connected_components_joinagg(edges, vertices=verts)
    return cc.select(
        F.col("v").alias("doc_id"), F.col("component").alias("keeper_id")
    )


def dedup_representatives(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "quality",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Survivor selection for near-dup clusters: cluster the pair graph
    (dedup_clusters' transitive closure), then keep ONE representative
    per cluster — the member with the highest quality, ties broken by
    the smallest doc id.  This is the policy stage every production
    fuzzy-dedup pipeline runs after pairing (keep the best-written copy,
    not an arbitrary one); docs in no pair survive as their own
    singleton cluster.

    Determinism contract: the ranking key is the EXACT INTEGER
    round(quality·10⁶) (same 6-dp regime as text.quality_score), so the
    argmax is reproducible across engines / partitionings — float
    comparisons never decide a survivor.  NULL quality ranks LAST
    (SQL's ORDER BY q_key DESC NULLS LAST): a doc nothing could judge
    never beats a scored one.  Selection is ONE hash
    aggregate via min(struct(−q_key, id)) (lexicographic struct min ≡
    argmax-quality-then-min-id): no window, no per-cluster skew concern
    beyond the aggregate's own combiner.

    Returns (cluster_id, rep_id, rep_q_key, n_members).
    """
    clusters = dedup_clusters(pairs, id_a, id_b)
    q_key = F.round(F.col(quality_col) * 1000000.0).cast("long")
    member = (
        docs.select(F.col(id_col), q_key.alias("q_key"))
        .join(
            clusters.withColumnRenamed("doc_id", id_col),
            id_col,
            "left",
        )
        .select(
            F.coalesce("keeper_id", F.col(id_col)).alias("cluster_id"),
            F.col(id_col),
            "q_key",
        )
    )
    # NULL quality must sort LAST (struct-min on a nullable field would
    # sort it FIRST and crown the unjudgeable doc): coalesce the sort key
    # to +inf and carry the raw q_key through as a third struct field
    nq = F.coalesce(-F.col("q_key"), F.lit(1 << 62))
    return member.groupBy("cluster_id").agg(
        F.min(
            F.struct(
                nq.alias("nq"),
                F.col(id_col).alias("rid"),
                F.col("q_key").alias("qk"),
            )
        ).alias("best"),
        F.count(F.lit(1)).alias("n_members"),
    ).select(
        "cluster_id",
        F.col("best.rid").alias("rep_id"),
        F.col("best.qk").alias("rep_q_key"),
        "n_members",
    )


def source_overlap(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    k: int = 3,
    max_source_df: int = 10_000,
) -> DataFrame:
    """Cross-source shingle-overlap matrix — the corpus-mixing /
    cross-corpus-contamination diagnostic run before blending training
    sources: for every pair of sources, how many distinct word k-gram
    shingles they share and the Jaccard of their shingle sets.  High
    overlap between "independent" sources flags mirrored content the
    doc-level dedup family then removes.

    Scale posture: ONE distinct (source, shingle) projection (state =
    per-source vocabularies, not per-doc), then the ngram_jaccard
    inverted-index shape keyed on the shingle — a shingle in d sources
    fans out d²/2 pair rows, so `max_source_df` drops ubiquitous
    boilerplate shingles before the self-join (they carry no
    source-identity signal — the dedup family's cap contract; sizes
    stay exact so capped jaccard is a lower bound, exact whenever no
    shared shingle exceeds the cap).  All JVM built-ins.

    Returns (source_a, source_b, n_shared, jaccard) with a < b.
    """
    from pagerank_cuda_dynamic_spark.functions import word_shingles

    sh = (
        docs.select(
            F.col(source_col).alias("s"),
            F.explode(word_shingles(text_col, k)).alias("g"),
        )
        .distinct()
    )
    sizes = sh.groupBy("s").agg(F.count(F.lit(1)).alias("sz"))
    rare = (
        sh.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= max_source_df)
        .select("g")
    )
    kept = sh.join(rare, "g", "left_semi")
    a = kept.select(F.col("s").alias("source_a"), "g")
    b = kept.select(F.col("s").alias("source_b"), "g")
    inter = (
        a.join(b, "g")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        inter.join(
            sizes.withColumnRenamed("s", "source_a").withColumnRenamed("sz", "sz_a"),
            "source_a",
        )
        .join(
            sizes.withColumnRenamed("s", "source_b").withColumnRenamed("sz", "sz_b"),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.round(
                F.col("n_shared")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
    )


def _bloom_prefilter(tr: DataFrame, ev: DataFrame, fpp: float) -> DataFrame:
    """Stage-1 candidate prune for `contamination_flags(prefilter="bloom")`:
    keep only (train_id, s) rows whose shingle MIGHT belong to the eval
    vocabulary, tested against a Bloom filter of the eval shingles'
    xxhash64 values instead of a broadcast of the shingle strings.

    Scale shape: the filter is m = -n·ln(fpp)/ln2² bits regardless of
    shingle byte length — ~1.2 MB per million eval shingles at fpp 1%
    vs tens of MB for the raw string vocabulary — so the prune stays
    broadcast-sized even when the eval suite's shingle vocabulary
    outgrows a broadcast join table.  Hashes are computed JVM-side
    (xxhash64); the membership test is one Arrow-vectorized kernel
    (bit indexing isn't expressible in SQL — the same justification as
    the simhash kernel below); false positives are weeded by the
    caller's later EXACT string join, so the operator output is
    row-identical to the broadcast prefilter.  Double hashing
    (Kirsch–Mitzenmacher): position_i = (h + i·rot17(h)|1) mod m.
    """
    hashes = np.array(
        [r[0] for r in ev.select(F.xxhash64("s").alias("h")).distinct().collect()],
        dtype=np.int64,
    ).view(np.uint64)
    n_items = max(len(hashes), 1)
    m = max(64, int(-n_items * math.log(fpp) / (math.log(2) ** 2)))
    g = max(1, round(m / n_items * math.log(2)))
    bits = np.zeros((m + 7) // 8, dtype=np.uint8)
    h2 = ((hashes >> np.uint64(17)) | (hashes << np.uint64(47))) | np.uint64(1)
    for i in range(g):
        pos = (hashes + np.uint64(i) * h2) % np.uint64(m)
        np.bitwise_or.at(
            bits,
            (pos >> np.uint64(3)).astype(np.int64),
            (np.uint64(1) << (pos & np.uint64(7))).astype(np.uint8),
        )
    # one executor-resident copy per worker, not one per task closure
    bits_bc = tr.sparkSession.sparkContext.broadcast(bits.tobytes())
    M, G = m, g
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in tr.schema.fields
    )
    out_cols = [f.name for f in tr.schema.fields]

    def kernel(batches):
        blm = np.frombuffer(bits_bc.value, dtype=np.uint8)
        for pdf in batches:
            h = np.ascontiguousarray(pdf["_h"].to_numpy()).view(np.uint64)
            hh2 = ((h >> np.uint64(17)) | (h << np.uint64(47))) | np.uint64(1)
            keep = np.ones(len(h), dtype=bool)
            for i in range(G):
                pos = (h + np.uint64(i) * hh2) % np.uint64(M)
                mask = (np.uint64(1) << (pos & np.uint64(7))).astype(np.uint8)
                keep &= (blm[(pos >> np.uint64(3)).astype(np.int64)] & mask) != 0
            yield pdf.loc[keep, out_cols]

    return tr.withColumn("_h", F.xxhash64("s")).mapInPandas(
        kernel, schema=out_schema
    )


def contamination_flags(
    docs: DataFrame,
    heldout: DataFrame,
    threshold: float = 0.5,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    heldout_id_col: str = "doc_id",
    heldout_text_col: str = "text",
    max_train_df: int = 100_000,
    prefilter: str = "broadcast",
    bloom_fpp: float = 0.01,
) -> DataFrame:
    """Benchmark decontamination flags: (train_id, eval_id, containment)
    for every training doc whose k-gram shingle CONTAINMENT of a held-out
    (eval) document reaches `threshold` — containment = |S_train ∩ S_eval|
    / |S_eval|, not Jaccard, because a long training doc that fully embeds
    a short eval doc must be caught even though its Jaccard is tiny.

    Scale shape: the held-out set (eval benchmarks) is tiny next to the
    corpus, so the train side is semi-joined against the broadcast eval
    shingle vocabulary FIRST — only training docs sharing ≥1 eval shingle
    ever reach the candidate join; the corpus is scanned once.
    `max_train_df` drops shingles carried by more than that many training
    docs (boilerplate trigrams are not contamination evidence and would
    pull |corpus|-sized candidate sets); containment is exact whenever no
    shared shingle exceeds the cap.

    `prefilter` picks the stage-1 corpus prune: "broadcast" (default)
    semi-joins against the broadcast eval shingle vocabulary;
    "bloom" tests a constant-size Bloom filter of eval shingle hashes
    (`_bloom_prefilter` — the 100 TB path when the eval vocabulary
    itself outgrows a broadcast table).  Both produce identical output:
    bloom false positives die in the exact join below."""
    tr = docs.select(
        F.col(id_col).alias("train_id"), F.explode(_shingles(text_col, k)).alias("s")
    )
    ev = heldout.select(
        F.col(heldout_id_col).alias("eval_id"),
        F.explode(_shingles(heldout_text_col, k)).alias("s"),
    )
    ev_sizes = ev.groupBy("eval_id").agg(F.count(F.lit(1)).alias("esz"))
    if prefilter == "broadcast":
        tr = tr.join(F.broadcast(ev.select("s").distinct()), "s", "left_semi")
    elif prefilter == "bloom":
        tr = _bloom_prefilter(tr, ev, bloom_fpp)
    else:
        raise ValueError(
            f"contamination_flags: unknown prefilter {prefilter!r} "
            "(expected 'broadcast' or 'bloom')"
        )
    rare = (
        tr.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= max_train_df)
        .select("s")
    )
    tr = tr.join(rare, "s", "left_semi")
    inter = (
        tr.join(ev, "s")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(ev_sizes, "eval_id")
        .withColumn("containment", F.col("inter") / F.col("esz"))
        .where(F.col("containment") >= threshold)
        .select(
            "train_id", "eval_id", F.round("containment", 6).alias("containment")
        )
    )


def decontaminate(
    docs: DataFrame,
    heldout: DataFrame,
    threshold: float = 0.5,
    k: int = 3,
    id_col: str = "doc_id",
    **kwargs,
) -> DataFrame:
    """Training docs with every contaminated document removed (anti-join
    against contamination_flags) — the actual decontamination pass."""
    flagged = (
        contamination_flags(docs, heldout, threshold, k, id_col=id_col, **kwargs)
        .select(F.col("train_id").alias(id_col))
        .distinct()
    )
    return docs.join(flagged, id_col, "left_anti")


# cap on tokens unpacked at once in the simhash kernel: peak transient is
# ~65 bytes/token (uint8 bit matrix + the int64 hash slab), so 1M tokens
# ≈ 65 MB — bounded regardless of Arrow batch size or document length
SIMHASH_CHUNK_TOKENS = 1 << 20


def simhash_64(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_hash=None,
) -> DataFrame:
    """64-bit SimHash per doc via an Arrow-vectorized kernel (bit unpacking
    is genuinely awkward in SQL expressions).  Deterministic: token hash =
    xxhash64 (or a caller-supplied Column fn — a cross-engine md5-derived
    hash makes the result reproducible in ANSI SQL) computed JVM-side
    first; the kernel only does popcount math."""
    if token_hash is None:
        token_hash = F.xxhash64
    tok_hashes = docs.select(
        F.col(id_col).alias("id"),
        F.transform(_tokens(text_col), lambda t: token_hash(t)).alias("th"),
    )

    # capture module constant at plan time so the kernel closure is
    # self-contained (workers may not re-import this module)
    CHUNK_TOKENS = SIMHASH_CHUNK_TOKENS

    def kernel(batches):
        weights = np.left_shift(np.uint64(1), np.arange(64, dtype=np.uint64))
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            th = pdf["th"]
            lens = np.fromiter((len(h) for h in th), dtype=np.int64, count=len(th))
            out_sh = np.zeros(len(ids), dtype=np.int64)
            nz = np.flatnonzero(lens > 0)
            # greedy doc-aligned chunks so reduceat segments never straddle
            # a chunk boundary; a single huge doc still goes alone but its
            # bit matrix is uint8 (64 B/token), not int64 (512 B/token)
            start = 0
            while start < nz.size:
                stop = start + 1
                tok = lens[nz[start]]
                while stop < nz.size and tok + lens[nz[stop]] <= CHUNK_TOKENS:
                    tok += lens[nz[stop]]
                    stop += 1
                sel = nz[start:stop]
                flat = np.concatenate(
                    [np.asarray(th.iloc[i], dtype=np.int64) for i in sel]
                )
                # little-endian byte view + LSB-first unpack: column k of
                # `bits` is bit k of the uint64 hash (matches 1<<k weights)
                bits = np.unpackbits(
                    flat.astype("<i8", copy=False).view(np.uint8).reshape(-1, 8),
                    axis=1,
                    bitorder="little",
                )
                offs = np.concatenate([[0], np.cumsum(lens[sel])[:-1]]).astype(
                    np.int64
                )
                ones = np.add.reduceat(bits, offs, axis=0, dtype=np.int64)
                # votes = sum of (2*bit - 1) = 2*ones - token_count
                votes = 2 * ones - lens[sel][:, None]
                sh = ((votes > 0).astype(np.uint64) * weights).sum(
                    axis=1, dtype=np.uint64
                )
                out_sh[sel] = sh.view(np.int64)
                start = stop
            yield pd.DataFrame({"id": ids, "simhash": out_sh})

    return tok_hashes.mapInPandas(kernel, "id long, simhash long")


def _band_exprs(col_name: str, nbands: int):
    """Pigeonhole bands over a 64-bit hash column: `nbands` contiguous bit
    ranges, as even as possible.  hamming ≤ nbands-1 ⇒ ≥1 identical band,
    so deriving nbands = max_hamming + 1 makes candidate recall exact for
    ANY max_hamming (the old fixed 4×16 layout silently lost pairs past
    hamming 3).  Returns an explode() of (chunk, ckey) structs."""
    nbands = max(1, min(int(nbands), 64))
    base, rem = divmod(64, nbands)
    exprs, off = [], 0
    for c in range(nbands):
        w = base + (1 if c < rem else 0)
        e = F.shiftrightunsigned(F.col(col_name), off)
        if w < 64:
            e = e.bitwiseAND(F.lit((1 << w) - 1))
        exprs.append(F.struct(F.lit(c).alias("chunk"), e.alias("ckey")))
        off += w
    return F.explode(F.array(*exprs))


def simhash_near_duplicates(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_hash=None,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming, found by banding
    the 64-bit hash into max_hamming+1 contiguous chunks (pigeonhole: ≤h
    differing bits ⇒ ≥1 identical chunk of h+1) and verifying with
    bit_count.  Default max_hamming=3 keeps the canonical 4×16-bit layout.
    Recall is exact, so the output is precisely the set of pairs with
    hamming(simhash) ≤ max_hamming — a pure function of the token hashes."""
    sh = simhash_64(docs, id_col, text_col, token_hash).persist()
    chunks = sh.select(
        "id",
        "simhash",
        _band_exprs("simhash", max_hamming + 1).alias("cc"),
    ).select("id", "simhash", "cc.chunk", "cc.ckey")
    a = chunks.select(F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"), "chunk", "ckey")
    b = chunks.select(F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"), "chunk", "ckey")
    pairs = (
        a.join(b, ["chunk", "ckey"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    return pairs


def line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_occurrences: int = 1,
    min_line_chars: int = 5,
) -> DataFrame:
    """CCNet-style cross-corpus line deduplication: drop every line whose
    normalized key appears in MORE THAN `max_doc_occurrences` distinct
    documents (nav menus, cookie banners, signatures — the classic web
    boilerplate), then reassemble each document's surviving lines in
    their original order.  Returns (id, text) for every input document
    (text = '' when all its lines were boilerplate).

    Keys are md5 of the trimmed lowercased line — constant 32-byte
    shuffle keys, never raw lines (a 100 TB corpus shuffles hashes, not
    strings).  Lines shorter than `min_line_chars` after trimming are
    passed through unkeyed: blanks and bullets carry no boilerplate
    signal and would otherwise all collide on a handful of keys (skew).

    Plan: posexplode → distinct-doc count per key (two-phase agg) →
    hot-key anti-join → ordered reassembly via array_sort over
    (pos, line) structs.  All JVM expressions, one shuffle per stage."""
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    norm = F.trim(F.lower(F.col("line")))
    keyed = lines.select(
        id_col,
        "pos",
        "line",
        F.when(F.length(norm) >= min_line_chars, F.md5(norm)).alias("lkey"),
    )
    hot = (
        keyed.where(F.col("lkey").isNotNull())
        .groupBy("lkey")
        .agg(F.countDistinct(F.col(id_col)).alias("n_docs"))
        .where(F.col("n_docs") > max_doc_occurrences)
        .select("lkey")
    )
    kept = keyed.join(hot, "lkey", "left_anti")
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda x: x["line"],
            ),
            "\n",
        ).alias(text_col)
    )
    return (
        docs.select(id_col)
        .join(reassembled, id_col, "left")
        .select(id_col, F.coalesce(F.col(text_col), F.lit("")).alias(text_col))
    )


def duplicate_window_stats(
    docs: DataFrame,
    window: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_hash=None,
) -> DataFrame:
    """Exact SUBSTRING-level duplication profile — the relational form of
    suffix-array substring dedup (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better"): every `window`-token
    sliding window is hashed; a window occurring in ≥2 DISTINCT docs is a
    duplicated span.  Returns per-doc
    (id, n_windows, n_dup_windows) for docs with ≥1 window — the
    severity signal that drives span-level scrubbing or doc dropping
    (frac = n_dup/n is the caller's one division).

    Plan shape (100 TB posture): windows are built JVM-side from the
    token array (sequence→slice→array_join→hash — zero Python, the
    shingle machinery generalized to w tokens); |tokens| rows shuffle
    ONCE on the window hash for the cross-doc distinct-count, and once
    on id for the per-doc rollup.  A suffix array gives the same answer
    for arbitrary-length spans; fixed-w windows are the standard
    distributed approximation (any duplicated span ≥ w tokens contains a
    duplicated w-window).

    window_hash: column fn over the joined window string; defaults to
    xxhash64 (pass an md5-derived fn for cross-engine oracles)."""
    from pagerank_cuda_dynamic_spark.plans.barrier import materialize

    if window_hash is None:
        window_hash = F.xxhash64
    toks = _tokens(text_col)
    n = F.size(toks)
    wins = F.when(n < window, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n - window),
            lambda i: F.array_join(F.slice(toks, i + 1, window), " "),
        )
    )
    w = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.transform(wins, lambda s: window_hash(s))).alias("wh"),
    )
    w = w.persist()
    dup = (
        w.groupBy("wh")
        .agg(F.count_distinct("id").alias("nd"))
        .where(F.col("nd") > 1)
        .select("wh")
    )
    per_doc = (
        w.join(dup, "wh", "left_semi")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_dup_windows"))
    )
    out = (
        w.groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_windows"))
        .join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_windows",
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
        )
    )
    out = materialize(out)
    w.unpersist()
    return out


def remove_duplicate_spans(
    docs: DataFrame,
    window: int = 12,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_hash=None,
) -> DataFrame:
    """Span-level dedup REMOVAL — the application stage of
    duplicate_window_stats (Lee et al. 2021 ExactSubstr semantics):
    every token covered by a cross-doc duplicated `window`-token window
    is dropped, EXCEPT inside the window's canonical owner occurrence —
    the (id, pos)-minimal one — i.e. "remove all but the first
    occurrence".  Output is the retained NORMALIZED token stream (the
    [a-z0-9]+ tokenizer shared by the whole dedup family), not a
    byte-faithful rewrite — the standard form a training corpus keeps
    after span scrubbing.

    Plan shape (100 TB posture): window hashes posexplode with their
    positions (|tokens| rows); ONE wh-keyed aggregate finds cross-doc
    dups and the canonical owner together (count_distinct +
    min(struct)); non-owner occurrences explode to ≤ n_dup·window
    (id, pos) coverage rows; retained tokens anti-join the coverage and
    reassemble with one id-keyed sort-struct aggregate (doc-scoped,
    never a global window).

    Returns (id, clean_text, n_tokens, n_removed).  window_hash
    defaults to xxhash64 (pass an md5-derived fn for cross-engine
    oracles).
    """
    from pagerank_cuda_dynamic_spark.plans.barrier import materialize

    if window_hash is None:
        window_hash = F.xxhash64
    toks = _tokens(text_col)
    n = F.size(toks)
    wins = F.when(n < window, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n - window),
            lambda i: F.array_join(F.slice(toks, i + 1, window), " "),
        )
    )
    base = docs.select(
        F.col(id_col).alias("id"), toks.alias("tk"), wins.alias("ws")
    ).persist()
    w = base.select(
        "id",
        F.posexplode(
            F.transform(F.col("ws"), lambda s: window_hash(s))
        ).alias("pos", "wh"),
    ).persist()
    dup = (
        w.groupBy("wh")
        .agg(
            F.count_distinct("id").alias("nd"),
            F.min(F.struct("id", "pos")).alias("own"),
        )
        .where(F.col("nd") > 1)
        .select("wh", "own")
    )
    nonown = (
        w.join(dup, "wh")
        .where(
            ~(
                (F.col("id") == F.col("own.id"))
                & (F.col("pos") == F.col("own.pos"))
            )
        )
        .select("id", "pos")
    )
    covered = nonown.select(
        "id",
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.lit(window - 1))
        ).alias("p"),
    ).distinct()
    tokpos = base.select("id", F.posexplode("tk").alias("p", "tok"))
    kept = tokpos.join(covered, ["id", "p"], "left_anti")
    reassembled = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    out = (
        base.select("id", F.size("tk").cast("long").alias("n_tokens"))
        .join(reassembled, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )
    out = materialize(out)
    w.unpersist()
    base.unpersist()
    return out
