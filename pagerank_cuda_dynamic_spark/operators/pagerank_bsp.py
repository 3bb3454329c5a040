"""BSP (bulk-synchronous) PageRank — the package's PageRank engine.

Why it exists: a Spark job that launches Python tasks costs ~0.3–0.5 s in
local mode regardless of data volume, so a loop that submits one job per
superstep is overhead-bound for any graph whose per-superstep compute is
below ~1 s (measured: null 32-partition mapInPandas job = 0.44 s).  The
reference never pays a per-iteration launch cost — its CSR lives on the
device and each iteration is one kernel + one scalar D2H sync
(pagerankCuda.hxx:676–692).  This mode reproduces that architecture on
Spark: ONE barrier-scheduled job runs the whole convergence loop; edge
stripes stay resident in the Python workers; iterations synchronize through
a shared scratch directory (/dev/shm locally; any shared FS on a cluster)
with flag-array spin barriers (BarrierTaskContext.barrier() itself polls at
1 Hz — too coarse).

Partitioning: contiguous dst stripes with boundaries chosen by cumulative
in-degree (each stripe owns ~E/P in-edges), so every vertex's pull sum is
complete within one stripe and the per-iteration exchange is exactly the
rank vector, written once, read mmap'd.

Skew (north rule "salted high-degree hubs"): vertices whose in-degree
exceeds hub_factor·E/P are SALTED — their in-edges are spread across
stripes by src hash, each stripe computes a partial sum per hub per
iteration (phase A), and the hub's home stripe combines the partials
(phase B).  This is the degree-partitioned kernel split of the reference
(thread- vs block-per-vertex at degree 64, pagerankCuda.hxx:470–481)
re-expressed as a two-phase BSP exchange.

Dynamic supersteps are O(affected): movers are exchanged as per-stripe id
lists (segment + count) with a bitmap twin, each stripe extends its own
frontier through the src-sorted view of its edges (the reference walks
out-edge lists the same way, pagerankCuda.hxx:96–117), and salted hubs
keep a shared `hubaff` bitmap so phase A sums only affected hubs.

The per-stripe NumPy work — record decode, stripe preparation, the
full-stripe and affected-set gathers, hub partials, the rank update, the
stripe router — and the memmap / flag-spin helpers are one kernel in
_stripe_pack, which the TCP ring (pagerank_tcp) and the label loop
(components_bsp) call too.  This module owns the pack, the delta pack and
the memmap exchange.

Static, ND, DT, DF and DF-P all run _bsp_loop (semantics in
operators.pagerank's docstring: sync pull update, L∞ convergence,
universal self-loops); tests check each against the NumPy oracle in
tests/oracle.py, the frontier variants superstep for superstep.
dangling="redistribute" adds a per-superstep global dangling-mass share
(one float per stripe per iteration through shared scratch), which also
powers weighted PageRank (w_bin blobs; rdiv = r/wdeg) with no self-loop
injection: a[v] = C0 + P·(Σ w_uv·r[u]/wdeg(u) + dangling_mass/N).
"""

from __future__ import annotations

import atexit
import os
import pickle
import re
import shutil
import tempfile
import time
import uuid

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from pagerank_cuda_dynamic_spark.operators.graph import _collect_batch
from pagerank_cuda_dynamic_spark.operators.pagerank import (
    PagerankOptions,
    PagerankResult,
    _adjust_warm_start,
    _traversal_marks,
)

# worker closures call these by value (see _stripe_pack's docstring)
from pagerank_cuda_dynamic_spark.operators._stripe_pack import (
    SYNC_DEADLINE_S,
    _pack_stripe_raw,
    _raw_to_row,
    _spill_read,
    _spill_write,
    _stripe_edges,
    affected_gather,
    full_gather,
    hub_partials,
    mm_create,
    mm_open,
    mover_edges,
    prepare_stripe,
    rank_update,
    row_to_raw,
    spin,
    stripe_of,
)

PACK_SCHEMA = (
    "stripe int, lo long, hi long, "
    "src_bin binary, src32 boolean, offsets_bin binary, "
    "usrc_bin binary, uoff_bin binary, dstloc_bin binary, "
    "hub_src_bin binary, hub_src32 boolean, hub_offsets_bin binary, "
    "husrc_bin binary, huoff_bin binary, hubcol_bin binary, "
    "w_bin binary, hub_w_bin binary"
)

_PACK_COLS = [
    "stripe", "lo", "hi",
    "src_bin", "src32", "offsets_bin",
    "usrc_bin", "uoff_bin", "dstloc_bin",
    "hub_src_bin", "hub_src32", "hub_offsets_bin",
    "husrc_bin", "huoff_bin", "hubcol_bin",
    "w_bin", "hub_w_bin",
]

# in-edges per stripe that bsp_pack aims for (k ≈ |E| / (p · STRIPE_EDGES)
# stripes per task, 1..16; the measurement is at the cut in bsp_pack)
STRIPE_EDGES = 150_000

# delta_pack declines a batch with more deletions or insertions than this;
# the child snapshot then derives its edges by anti-join and packs in full
DELTA_MAX_BATCH = 200_000


# Scratch dirs handed out by _scratch_dir, and similarity's top-k partials
# dirs, not yet removed.  Scratch (memmap exchange) and derived "_spill"
# (stripe-record) dirs must not outlive the driver: snapshots built by
# oracle gates or the driver's queries() calls are often never
# unpersist()ed, and on tmpfs a leaked spill is RAM.  One exit hook reaps
# what is left; callers that remove a dir earlier drop it from the set, so
# a long stream keeps it small.
_LIVE_SCRATCH: set[str] = set()


def _remove_scratch(path: str) -> None:
    """Remove now a _scratch_dir path, or its "_spill" twin, together with
    the twin, and stop reaping them at exit."""
    base = path.removesuffix("_spill")
    for p in (base, base + "_spill"):
        shutil.rmtree(p, ignore_errors=True)
    _LIVE_SCRATCH.discard(base)


@atexit.register
def _reap_scratch() -> None:
    for path in list(_LIVE_SCRATCH):
        _remove_scratch(path)


# pr_bsp_<owner pid>_<hex>[_spill]: a killed driver never runs the exit
# hook, so the first _scratch_dir call of a later process removes the dirs
# whose owner no longer exists (pids as this process sees them: drivers
# that share the scratch base must share a pid namespace)
_OWNED_SCRATCH = re.compile(r"pr_bsp_(\d+)_[0-9a-f]{12}(_spill)?")
_reaped_dead_owners = False


def _reap_dead_owners(base: str) -> None:
    for name in os.listdir(base):
        m = _OWNED_SCRATCH.fullmatch(name)
        if m is None:
            continue  # not ours, or a name from before owners were recorded
        try:
            os.kill(int(m.group(1)), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)
        except (PermissionError, OverflowError):
            pass  # alive under another user, or too large to be a pid


def _scratch_dir() -> str:
    """A fresh scratch path (not created); it and its "_spill" twin are
    removed at interpreter exit unless _remove_scratch removes them first."""
    global _reaped_dead_owners
    base = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    if not _reaped_dead_owners:
        _reaped_dead_owners = True
        _reap_dead_owners(base)
    path = os.path.join(base, f"pr_bsp_{os.getpid()}_{uuid.uuid4().hex[:12]}")
    _LIVE_SCRATCH.add(path)
    return path


def _indegrees(graph) -> np.ndarray:
    """Dense |V| in-degree histogram of graph.edges on the driver.  NOT on
    the perf path — bsp_pack balances on its own raw histogram; this
    remains as the exact cross-check used by the pack parity tests."""
    pdf = (
        graph.edges.groupBy(F.col("dst").alias("v"))
        .agg(F.count(F.lit(1)).alias("indeg"))
        .toPandas()
    )
    indeg = np.zeros(graph.n, dtype=np.int64)
    indeg[pdf["v"].to_numpy()] = pdf["indeg"].to_numpy()
    return indeg


def _hash_partition(keys: np.ndarray, n_parts: int) -> np.ndarray:
    """The partition repartition(n_parts, col) sends each long key to:
    pmod(Murmur3_x86_32.hashLong(key, seed 42), n_parts), the hash that
    HashPartitioning and F.hash share — computed on the driver, no job."""
    u32 = np.uint32

    def mix_k1(k):
        k = k * u32(0xCC9E2D51)
        return ((k << u32(15)) | (k >> u32(17))) * u32(0x1B873593)

    def mix_h1(h, k):
        h = h ^ k
        return ((h << u32(13)) | (h >> u32(19))) * u32(5) + u32(0xE6546B64)

    v = np.asarray(keys, dtype=np.int64).view(np.uint64)
    h = np.full(v.shape, 42, dtype=u32)
    h = mix_h1(h, mix_k1((v & np.uint64(0xFFFFFFFF)).astype(u32)))
    h = mix_h1(h, mix_k1((v >> np.uint64(32)).astype(u32)))
    h = h ^ u32(8)
    h = (h ^ (h >> u32(16))) * u32(0x85EBCA6B)
    h = (h ^ (h >> u32(13))) * u32(0xC2B2AE35)
    h = h ^ (h >> u32(16))
    return np.mod(h.view(np.int32).astype(np.int64), n_parts)


def bsp_pack(
    graph,
    p: int | None = None,
    hub_factor: float = 4.0,
    stripe_edges: int = STRIPE_EDGES,
    spill_dir: str | None = None,
):
    """Stripe-packed CSR blobs + salted hub blocks, each stripe whole in one
    task.  Returns (packed_df, bounds, n_stripes, hubs).

    hubs: dst ids with indeg > hub_factor·E/p.  Their in-edges are assigned
    to stripes by pmod(src) (the salt) and packed as per-stripe hub CSR
    blocks over the full hub list; everything else is the regular
    contiguous-stripe CSR (csr.hxx:107–286 analog), built once and
    gathered in row (dst) order.  Every blob also carries a src-sorted
    view (usrc/uoff/dstloc and husrc/huoff/hubcol) so mover-frontier
    extension is O(out-edges of movers).  If the edges have a `w` column,
    per-edge weights ride along (w_bin/hub_w_bin) for weighted PageRank.
    stripe_edges is the in-edge budget per stripe (see the cut below).

    Each pack task adds the universal self-loops of the stripes it owns
    when the input asks for them (pack_input) and dedups its unweighted
    edges in place (np.unique of src·n+dst): equal pairs route to the same
    stripe, so this is the edge SET.  Weighted edges are packed as given.

    Without spill_dir, packed_df holds exactly ONE PACK_SCHEMA blob row per
    stripe id 0..n_stripes-1 (stripes that receive no edges get an empty
    row — the barrier loop waits on every stripe's flag, so a missing
    stripe would deadlock it).  With spill_dir, each task writes its raw
    stripe records and an out-degree partial there instead, and packed_df
    is the cached (src, dst) edge rows the tasks emitted.  Either way, an
    unweighted graph with an `_outdeg_np` slot gets its exact out-degrees.

    Scale note: one degree pass ships a |V|-row in-degree table of the RAW
    rows to the driver (self-loops are +1 per vertex there, no Spark rows),
    and the hub list and the stripe bounds derive from it in NumPy.  Raw
    counts only balance load; they need not be exact.  This is the same
    |V|-fits-one-node premise as the loop's rank vector (the reference
    assumes one GPU, pagerankCuda.hxx:798)."""
    frame, loops = graph.pack_input()
    spark = frame.sparkSession
    if p is None:
        p = spark.sparkContext.defaultParallelism
    weighted = "w" in frame.columns
    cols = ["src", "dst"] + (["w"] if weighted else [])
    N = int(graph.n)
    # a narrow coalesce before any Python stage (a union plan may carry
    # dozens of tiny partitions, one Python task each), cached so the
    # degree pass and the route evaluate the input once
    e = frame.select(*cols).coalesce(p)
    if not frame.is_cached:
        e = e.persist()
    try:
        def dst_counts(batches):
            d = [pdf["dst"].to_numpy(np.int64) for pdf in batches]
            v, c = np.unique(np.concatenate(d) if d else np.empty(0, np.int64), return_counts=True)
            yield pd.DataFrame({"v": v, "c": c})

        # per-partition counts summed on the driver: one job, where a JVM
        # groupBy costs three under adaptive execution
        deg_pdf = e.select("dst").mapInPandas(dst_counts, "v long, c long").toPandas()
        v_arr = deg_pdf["v"].to_numpy(dtype=np.int64)
        if v_arr.size and (v_arr.min() < 0 or v_arr.max() >= N):
            raise ValueError(f"edge dst outside the vertex space [0, {N})")
        indeg = np.zeros(N, dtype=np.int64)
        np.add.at(indeg, v_arr, deg_pdf["c"].to_numpy(dtype=np.int64))
        if loops:
            indeg += 1
        total = int(indeg.sum())
        hub_cut = max(hub_factor * total / max(p, 1), 64)
        hubs = np.flatnonzero(indeg > hub_cut).astype(np.int64)
        # stripes FINER than tasks (k per task, round-robin balanced): a
        # stripe's dst range — and on locality-bearing graphs its src range —
        # shrinks with the stripe, so the gather+sums working set drops into
        # cache.  Measured on the 26.9M-edge bench family: 8 fat stripes
        # 0.127 s/superstep → ~176 fine stripes 0.045 s at local[8];
        # 32 → 192–256 stripes 0.019–0.031 s at local[32].  k rounds to keep
        # stripe count a task multiple (uneven waves straggle the superstep).
        k = 1
        if total and p:
            k = max(1, min(16, round(total / p / max(stripe_edges, 1))))
        n_target = p * k
        # cumulative-indegree bounds over NON-hub in-edges (hub edges are
        # salted away): cut where the prefix sum crosses each i/n_target
        # fraction of the total
        cuts_np = np.empty(0, dtype=np.int64)
        if total and n_target > 1:
            cum = np.cumsum(np.where(indeg > hub_cut, 0, indeg))
            if cum[-1] > 0:
                targets = (np.arange(1, n_target) / n_target) * cum[-1]
                cuts_np = np.minimum(np.searchsorted(cum, targets, side="left"), N - 1)
        bounds = np.unique(np.concatenate([[0], cuts_np, [N]]).astype(np.int64))
        n_stripes = len(bounds) - 1
        sc = spark.sparkContext
        bc_bounds = sc.broadcast(bounds)
        bc_hubs = sc.broadcast(hubs)

        # --- routing: ONE hash shuffle lands each stripe BLOCK on its own
        # task.  The per-row stripe is a vectorized searchsorted in a
        # pandas UDF (a JVM higher-order-function fold over the ~n_stripes
        # bounds array measured ~20 s/pass at 27M edges — 6x the whole Arrow
        # transfer); the shuffle key is an integer k_b per block with
        # pmod(murmur3(k_b), n_parts) == b (_hash_partition), so
        # repartition(n_parts, key) IS the identity block->partition map and
        # every pack task derives the stripe set it owns from its partition id
        # alone — which lets it pack its empty stripes and add its self-loops
        # without any collect.
        n_parts = max(min(n_stripes, p), 1)
        # ROUND-ROBIN stripe->block ownership (stripe % n_parts), not
        # contiguous ranges: the barrier superstep is max-over-tasks, and
        # per-stripe gather cost has a gradient along the dst range (Zipf
        # id ordering), so contiguous blocks concentrate the hot stripes on
        # one task (measured: 28.7 -> ~41 ms/superstep at 27M edges).  The
        # interleave restores the old repartition()'s load balance while
        # keeping the one-shuffle owned-stripe pack.
        blk_of = np.arange(n_stripes, dtype=np.int64) % n_parts
        cand = np.arange(32 * n_parts + 64, dtype=np.int64)
        blocks, first = np.unique(_hash_partition(cand, n_parts), return_index=True)
        if blocks.size != n_parts:
            raise RuntimeError("no routing key found for every pack partition")
        key_of_stripe = cand[first][blk_of]
        interior_np = bounds[1:-1]
        ns_cap = n_stripes

        # Vectorized pandas route (one numpy searchsorted per batch).  A pure-
        # codegen route was tried in this round and measured SLOWER: a
        # log-depth CASE WHEN bisection tree over the ~n_stripes bounds costs
        # ~5.8 s/pass at 27M edges (nested-when codegen does not JIT well)
        # vs ~3.3 s for the whole Arrow crossing, and a linear higher-order
        # fold ~20 s/pass — the Arrow route stays.
        @F.pandas_udf("long")
        def _route_key(src_s: pd.Series, dst_s: pd.Series) -> pd.Series:
            stripe = stripe_of(
                src_s.to_numpy(dtype=np.int64), dst_s.to_numpy(dtype=np.int64),
                interior_np, bc_hubs.value, ns_cap,
            )
            return pd.Series(key_of_stripe[stripe])

        routed = (
            e.select(*cols, _route_key("src", "dst").alias("rkey"))
            .repartition(n_parts, "rkey")
            .drop("rkey")
        )
        if spill_dir:
            # tasks write only into an existing spill: recomputing the cached
            # edge rows of a snapshot released since must not recreate it
            os.makedirs(spill_dir, exist_ok=True)

        def pack_partition(batches):
            """Pack every stripe this partition OWNS (blk_of == partitionId),
            empty ones included, so exactly one record per stripe exists
            globally.  Runs on empty partitions too (verified behavior)."""
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            own = np.flatnonzero(blk_of == pid)
            hub_ids, b = bc_hubs.value, bc_bounds.value
            pdfs = [pdf for pdf in batches]
            pdf = pd.concat(pdfs, ignore_index=True) if pdfs else pd.DataFrame(columns=cols)
            src_all = pdf["src"].to_numpy(np.int64)
            dst_all = pdf["dst"].to_numpy(np.int64)
            w_all = pdf["w"].to_numpy(np.float64) if weighted else None
            stripe = stripe_of(src_all, dst_all, interior_np, hub_ids, ns_cap)
            if not np.isin(stripe, own).all():
                # the searchsorted slices below silently DROP edges whose
                # stripe this partition does not own, so a divergence
                # between _hash_partition and HashPartitioning must fail
                # loudly, not corrupt ranks (raise, not assert: survives
                # python -O)
                raise RuntimeError(
                    "bsp_pack misroute: partition received edges for "
                    "stripes it does not own — _hash_partition and the "
                    "repartition hash disagree"
                )
            if loops:
                # (v, v) lands in v's dst stripe, or in v mod n_stripes when v
                # is a hub: candidates are the owned ranges plus every hub
                v = np.concatenate(
                    [np.arange(b[s], b[s + 1], dtype=np.int64) for s in own] + [hub_ids]
                )
                v = v[np.isin(stripe_of(v, v, interior_np, hub_ids, ns_cap), own)]
                src_all = np.concatenate([src_all, v])
                dst_all = np.concatenate([dst_all, v])
            if not weighted:
                if N < 2**31:
                    key = np.unique(src_all * N + dst_all)
                    src_all, dst_all = key // N, key % N
                else:  # src·n+dst would overflow int64
                    pair = np.unique(np.stack([src_all, dst_all], axis=1), axis=0)
                    src_all, dst_all = pair[:, 0], pair[:, 1]
            stripe = stripe_of(src_all, dst_all, interior_np, hub_ids, ns_cap)
            order = np.argsort(stripe, kind="stable")
            stripe = stripe[order]
            cuts_ = np.searchsorted(stripe, own)
            ends_ = np.searchsorted(stripe, own, side="right")
            s_src, s_dst = src_all[order], dst_all[order]
            s_w = w_all[order] if weighted else None
            write = bool(spill_dir) and os.path.isdir(spill_dir)
            rows = []
            for i, s in enumerate(own):
                a, z = int(cuts_[i]), int(ends_[i])
                raw = _pack_stripe_raw(
                    int(s), int(b[s]), int(b[s + 1]), s_src[a:z], s_dst[a:z],
                    s_w[a:z] if weighted else None, hub_ids, weighted,
                )
                if write:
                    _spill_write(spill_dir, raw)
                elif not spill_dir:
                    rows.append(_raw_to_row(raw))
            if not spill_dir:
                if rows:
                    yield pd.DataFrame(rows, columns=_PACK_COLS)
                return
            if write:
                # this task's exact out-degree partial and its stripes' edge
                # counts — also the marker that its stripes are all in the
                # spill
                _spill_write(
                    spill_dir,
                    (np.stack(np.unique(src_all, return_counts=True)), own, ends_ - cuts_),
                    f"outdeg_{pid}.pkl",
                )
            out = {"src": src_all, "dst": dst_all}
            if weighted:
                out["w"] = w_all
            yield pd.DataFrame(out)

        want_deg = (
            not weighted and hasattr(graph, "_outdeg_np") and graph._outdeg_np is None
        )
        if spill_dir:
            schema = "src long, dst long" + (", w double" if weighted else "")
            packed = routed.mapInPandas(pack_partition, schema).persist()
            # runs the pack tasks once and caches their rows
            packed.write.format("noop").mode("overwrite").save()
            parts = [os.path.join(spill_dir, f"outdeg_{pid}.pkl") for pid in range(n_parts)]
            missing = [path for path in parts if not os.path.exists(path)]
            if missing:
                packed.unpersist()
                raise RuntimeError(f"{len(missing)} pack task(s) left no spill records")
            edge_counts = np.zeros(n_stripes, dtype=np.int64)
            parts = [pd.read_pickle(path) for path in parts]
            for _, own, m in parts:
                edge_counts[own] = m
            parts = [deg for deg, _, _ in parts]
        else:
            packed = routed.mapInPandas(pack_partition, PACK_SCHEMA).persist()
            # one job: the cache fill, the stripe-row check and, from the
            # src-sorted views, the out-degrees
            views = (("usrc_bin", "uoff_bin"), ("husrc_bin", "huoff_bin"))
            got = packed.select(
                *([c for v in views for c in v] if want_deg else ["stripe"])
            ).collect()
            if len(got) != n_stripes:
                packed.unpersist()
                raise RuntimeError(
                    f"pack emitted {len(got)} stripe rows, expected {n_stripes}"
                )
            if want_deg:
                parts = [
                    (np.frombuffer(r[u], np.int64), np.diff(np.frombuffer(r[o], np.int64)))
                    for r in got
                    for u, o in views
                ]
    finally:
        if e.is_cached:
            e.unpersist()
    if want_deg:
        out = np.zeros(N, dtype=np.float64)
        for v, c in parts:
            np.add.at(out, v, c)
        graph._outdeg_np = out
    if spill_dir:
        _spill_complete(
            spill_dir,
            {
                "bounds": bounds, "hubs": hubs, "n_stripes": n_stripes,
                "n_parts": n_parts, "weighted": weighted, "n": N,
                "edge_counts": edge_counts,
            },
        )
    return packed, bounds, n_stripes, hubs


def _spill_complete(spill_dir: str, meta: dict) -> None:
    """Write a spill's META.pkl, then the COMPLETE marker that gates every
    reader of the spill (_spill_meta)."""
    with open(os.path.join(spill_dir, "META.pkl"), "wb") as f:
        pickle.dump(meta, f, protocol=pickle.HIGHEST_PROTOCOL)
    with open(os.path.join(spill_dir, "COMPLETE"), "w") as f:
        f.write(str(meta["n_stripes"]))


def _spill_meta(spill_dir: str | None) -> dict | None:
    """The META.pkl of a complete stripe spill — bounds, hubs, n_stripes,
    n_parts, weighted, n and the per-stripe edge counts — or None when
    there is no complete spill."""
    if not spill_dir or not os.path.exists(os.path.join(spill_dir, "COMPLETE")):
        return None
    with open(os.path.join(spill_dir, "META.pkl"), "rb") as f:
        return pickle.load(f)


def delta_pack(child, parent, deletions, insertions, spill_dir: str):
    """Incremental stripe pack: merge a small batch into the PARENT's
    spilled stripe records instead of re-shuffling all |E| edges.

    The reference's dynamic thesis is that a batch's cost should scale with
    the batch, not the graph (batch.hxx:222–247 applies updates in place;
    the device CSR is rebuilt only for the touched ranges).  The full
    bsp_pack is a full-data shuffle — correct for a new graph, absurd for a
    67-edge insert batch.  Here the merge reconstructs only the TOUCHED
    stripes' edge lists from the parent spill (dst from CSR counts, hub dst
    from the hub-block counts), applies set semantics ((E \\ D) ∪ I —
    duplicate inserts and missing deletes are no-ops), and re-packs those
    stripes; untouched stripes are hardlinked.  Bounds and hub list are
    inherited from the parent (a small batch cannot move the balance point
    materially; routing stays consistent by construction).

    Cost: one collect of the batch (both sides in one union), then the
    merge: O(|batch| + Σ|touched stripes|) work, zero shuffle.  When the
    touched stripes hold at most STRIPE_EDGES edges in all (the spill's
    per-stripe counts) — one pack task's work budget, merged faster than a
    task wave starts — the driver runs the merge, no Spark job; otherwise
    one |batch|-broadcast job over n_parts tasks runs the same merge, each
    task over the stripes it owns.  The collected arrays stay on the child
    with the two frames, so DF seeding (_frontier_seeds) reads them instead
    of collecting again.  Also derives the child's out-degree array from
    the parent's + the applied delta, so the child skips the |E| groupBy +
    |V| collect entirely.

    Returns (None, bounds, n_stripes, hubs) — the packed-DataFrame slot is
    None because every consumer path reads the spill — or None when
    ineligible (no parent spill, weighted, n changed, batch too big).
    Raises ValueError when a batch edge names a vertex outside [0, n)."""
    meta = _spill_meta(getattr(parent, "_bsp_spill", None))
    # src·n+dst keys must fit int64; weighted packs carry per-edge payloads
    # the reconstruction does not model
    if meta is None or meta["weighted"] or child.n != meta["n"] or child.n >= 2**31:
        return None
    # no row cap on the collect: a tidied batch is driver-built already
    # (tidy_batch), and a cap costs a limit per side on every batch
    pdf = _collect_batch(deletions, insertions)
    b_src = pdf["src"].to_numpy(np.int64)
    b_dst = pdf["dst"].to_numpy(np.int64)
    b_del = pdf["is_del"].to_numpy(bool)
    if max(int(b_del.sum()), int((~b_del).sum())) > DELTA_MAX_BATCH:
        return None
    bounds = np.asarray(meta["bounds"], dtype=np.int64)
    hubs = np.asarray(meta["hubs"], dtype=np.int64)
    n_stripes, n_parts = int(meta["n_stripes"]), int(meta["n_parts"])
    N = int(child.n)
    interior = bounds[1:-1]

    d_src, d_dst = b_src[b_del], b_dst[b_del]
    i_src, i_dst = b_src[~b_del], b_dst[~b_del]
    # routing sends any dst >= n to the last stripe and the int64 keys
    # below alias ids outside [0, n): reject such a batch outright
    bad = sum(
        int(((np.minimum(a, b) < 0) | (np.maximum(a, b) >= N)).sum())
        for a, b in ((d_src, d_dst), (i_src, i_dst))
    )
    if bad:
        raise ValueError(
            f"batch has {bad} edge(s) with a vertex id outside [0, {N}); "
            "the fast path cannot grow the id space"
        )
    # _frontier_seeds reads the collected batch from here, not Spark
    child._batch = (deletions, insertions, b_src, b_dst, b_del)
    # universal self-loops are re-injected by the full path
    # (GraphSnapshot.build self_loops=True), so a (v,v) deletion is a
    # no-op there — match that semantics instead of removing the loop
    keep_d = d_src != d_dst
    d_src, d_dst = d_src[keep_d], d_dst[keep_d]
    # bsp_pack's router over the parent's bounds and hubs: a batch edge
    # lands in the stripe the full pack would have put it in
    d_stripe = stripe_of(d_src, d_dst, interior, hubs, n_stripes)
    i_stripe = stripe_of(i_src, i_dst, interior, hubs, n_stripes)
    d_key = d_src * N + d_dst
    i_key = i_src * N + i_dst
    PARENT, CHILD = parent._bsp_spill, spill_dir
    NSTR, NP, NN, HUBS = n_stripes, n_parts, N, hubs

    def merge(pid):
        """The stripes s ≡ pid mod n_parts of the child spill; returns the
        applied insertion and deletion srcs and the merged stripes' edge
        counts."""
        import os as _os
        import shutil as _shutil

        import numpy as _np

        _os.makedirs(CHILD, exist_ok=True)
        a_ins, a_del, sizes = [], [], {}
        for s in range(pid, NSTR, NP):
            pp = _os.path.join(PARENT, f"s{s}.pkl")
            cp = _os.path.join(CHILD, f"s{s}.pkl")
            dm = d_stripe == s
            im = i_stripe == s
            if not dm.any() and not im.any():
                # untouched stripe: hardlink shares the parent's record
                # (tmpfs refcounts survive the parent spill's removal)
                if not _os.path.exists(cp):
                    try:
                        _os.link(pp, cp)
                    except OSError:
                        _shutil.copy(pp, cp)
                continue
            raw = _spill_read(PARENT, s)
            lo, hi = int(raw["lo"]), int(raw["hi"])
            src_all, dst_all = _stripe_edges(raw, HUBS)
            key = src_all * NN + dst_all
            kept = key
            if dm.any():
                dk = _np.unique(d_key[dm])
                kept = key[~_np.isin(key, dk)]
                adk = dk[_np.isin(dk, key)]
                if adk.size:
                    a_del.append(adk // NN)
            if im.any():
                ik = _np.unique(i_key[im])
                new = ik[~_np.isin(ik, kept)]
                if new.size:
                    a_ins.append(new // NN)
                merged = _np.concatenate([kept, new])
            else:
                merged = kept
            raw2 = _pack_stripe_raw(
                s, lo, hi, merged // NN, merged % NN, None, HUBS, False
            )
            _spill_write(CHILD, raw2)
            sizes[s] = merged.size
        return (
            _np.concatenate(a_ins) if a_ins else _np.empty(0, _np.int64),
            _np.concatenate(a_del) if a_del else _np.empty(0, _np.int64),
            sizes,
        )

    edge_counts = np.array(meta["edge_counts"], dtype=np.int64)
    touched = np.union1d(d_stripe, i_stripe)
    if edge_counts[touched].sum() <= STRIPE_EDGES:
        rows = [merge(pid) for pid in range(n_parts)]
    else:
        sc = deletions.sparkSession.sparkContext
        # one element per partition: element pid lands in partition pid
        rows = sc.parallelize(range(n_parts), n_parts).map(merge).collect()
    for _, _, sizes in rows:
        edge_counts[list(sizes)] = list(sizes.values())
    _spill_complete(spill_dir, dict(meta, edge_counts=edge_counts))
    # child out-degrees = parent's + applied delta (self-loops unchanged by
    # contract) — skips the |E| groupBy + |V|-row collect on the child
    out = parent.outdeg_array().copy()
    for a_ins, a_del, _ in rows:
        if a_ins.size:
            np.add.at(out, a_ins, 1.0)
        if a_del.size:
            np.subtract.at(out, a_del, 1.0)
    child._outdeg_np = out
    return None, bounds, n_stripes, hubs


def spill_edges(spark, spill_dir: str):
    """The (src, dst) edge frame held by a complete stripe spill: one task
    per pack partition reads the stripes it owns (s ≡ pid mod n_parts) and
    unpacks them with _stripe_edges — the stripe-block partitions that
    bsp_pack's edge rows have, so Spark consumers of the edge set (apply_batch,
    a tidy_batch handed a derived frame, the TCP ring's marks) plan the same
    exchanges on a carried snapshot as on a packed one.  tidy_batch handed
    this very frame reads the spill on the driver instead (spill_contains)."""
    meta = _spill_meta(spill_dir)
    n_stripes, n_parts = int(meta["n_stripes"]), int(meta["n_parts"])
    hubs = np.asarray(meta["hubs"], dtype=np.int64)

    def read(batches):
        for pdf in batches:
            for pid in pdf["id"].to_numpy():
                for s in range(int(pid), n_stripes, n_parts):
                    src, dst = _stripe_edges(_spill_read(spill_dir, s), hubs)
                    yield pd.DataFrame({"src": src, "dst": dst})

    return spark.range(n_parts, numPartitions=n_parts).mapInPandas(
        read, "src long, dst long"
    )


def spill_contains(spill_dir: str | None, n: int, src, dst) -> np.ndarray | None:
    """hasEdge (batch.hxx:153–160) for each pair (src[k], dst[k]) against
    the edge set of a complete stripe spill, on the driver and with no
    Spark job: bsp_pack's router (stripe_of over the spill's bounds and
    hubs) sends each pair to the one stripe that would hold it, and only
    the stripes the pairs touch are read and unpacked.  A pair with an id
    outside [0, n) is no edge: it is masked before routing, because its
    src·n+dst key would alias a valid one.  None when the spill cannot
    answer: no complete spill, a weighted one, or n ≥ 2**31."""
    meta = _spill_meta(spill_dir)
    if meta is None or meta["weighted"] or meta["n"] != n or n >= 2**31:
        return None
    src = np.asarray(src, dtype=np.int64)
    dst = np.asarray(dst, dtype=np.int64)
    hubs = np.asarray(meta["hubs"], dtype=np.int64)
    interior = np.asarray(meta["bounds"], dtype=np.int64)[1:-1]
    ok = np.flatnonzero((np.minimum(src, dst) >= 0) & (np.maximum(src, dst) < n))
    key = src[ok] * n + dst[ok]
    stripe = stripe_of(src[ok], dst[ok], interior, hubs, int(meta["n_stripes"]))
    hit = np.zeros(src.size, dtype=bool)
    for s in np.unique(stripe):
        at = stripe == s
        e_src, e_dst = _stripe_edges(_spill_read(spill_dir, int(s)), hubs)
        hit[ok[at]] = np.isin(key[at], e_src * n + e_dst)
    return hit


def _initial_ranks(q: np.ndarray | None, n: int) -> np.ndarray:
    """The start vector: uniform 1/n, or the warm-start q.  A q shorter
    than n ranks a graph that has since grown: the new vertices start at 0
    (_adjust_warm_start).  A longer q cannot belong to this graph."""
    if q is None:
        return np.full(n, 1.0 / n)
    r0 = np.asarray(q, dtype=np.float64)
    if r0.ndim != 1 or r0.size > n:
        raise ValueError(f"q has {r0.size} entries, the graph has {n} vertices")
    return _adjust_warm_start(r0, n)


def _bsp_loop(
    graph,
    opts: PagerankOptions,
    q: np.ndarray | None = None,
    vaff0: np.ndarray | None = None,
    corrected: bool = False,
    expand: bool = False,
    prune: bool = False,
    movers0: np.ndarray | None = None,
    weighted: bool = False,
) -> PagerankResult:
    """Generalized BSP convergence loop (static/ND/DT/DF/DF-P, ± weights).

    Per iteration:
      [A0 (dynamic+expand+hubs): every stripe marks hubs reached from the
       mover list via its hub src-CSR into the shared `hubaff` bitmap]
      → flagA0 sync →
      [A1 (hubs): every stripe computes partial sums for affected (dynamic)
       or all (static) hubs from its salted hub edges] → flagA sync →
      [B: each stripe extends its own frontier from the mover list via its
       regular src-CSR, gathers affected CSR row slices, applies the rank
       update, writes its rank/rdiv slice + its mover-id segment] → flag.
    vaff is task-local (a stripe's flags are only touched by its owner);
    movers (id segments + counts + a ping-pong bitmap twin — consumers
    pick the cheaper encoding per stripe), hub partials and `hubaff` are
    the only cross-stripe state.  The per-stripe gathers and the update
    are _stripe_pack's kernel; this function owns the memmap exchange."""
    t_all = time.time()
    N = graph.n
    r0 = _initial_ranks(q, N)
    P_DAMP = opts.damping
    TOL = opts.tolerance
    MAXIT = opts.max_iterations
    C0 = (1.0 - P_DAMP) / N
    dynamic = vaff0 is not None
    redistribute = opts.dangling == "redistribute"
    if (corrected or dynamic) and opts.dangling != "selfloop":
        raise ValueError(
            f"dangling={opts.dangling!r}: BSP dynamic modes assume self-looped "
            "graphs (dangling='selfloop')"
        )
    if (corrected or dynamic) and weighted:
        raise ValueError("BSP dynamic modes are unweighted (reference regime)")

    t_pack = time.time()
    pack_cached = getattr(graph, "_bsp_packed", None) is not None
    packed, bounds, n_stripes, hubs = graph.bsp_packed()
    pack_sec = 0.0 if pack_cached else time.time() - t_pack
    # stripe spill: when the pack wrote raw stripe records to the
    # snapshot's scratch spill (GraphSnapshot.bsp_packed does), the loop
    # loads them straight from the shared FS instead of re-streaming
    # ~|E|·12 B of blob rows JVM→Arrow→Python on EVERY invocation — the
    # dominant setup cost for repeat runs (warm starts, dynamic batches).
    # The row-stream path remains for packs without a spill (weighted
    # snapshots, direct bsp_pack callers).
    meta = _spill_meta(getattr(graph, "_bsp_spill", None))
    SPILL = None if meta is None else graph._bsp_spill
    if SPILL is None:
        NPARTS = packed.rdd.getNumPartitions()
    else:  # a spilled pack's frame holds edge rows, or nothing at all
        NPARTS = int(meta["n_parts"])
    HUBS = np.asarray(hubs, dtype=np.int64)
    n_hubs = int(HUBS.size)
    outdeg = graph.outdeg_array()
    # Guard only the dangling zeros (their rdiv is never read): a plain
    # np.maximum(outdeg, 1.0) would silently clamp fractional *weighted*
    # out-degrees in (0, 1) and divide contributions by 1.0 instead of wdeg.
    safe_deg = np.where(outdeg > 0, outdeg, 1.0)
    wd = _scratch_dir()

    dyn = dynamic
    do_expand = expand
    do_prune = prune
    do_corr = corrected
    D_TOL = opts.frontier_tolerance
    C_TOL = opts.prune_tolerance
    NH = n_hubs
    NSTRIPES = n_stripes
    WEIGHTED = weighted
    REDIST = redistribute
    bounds_list = [int(b) for b in bounds]

    def loop(it):
        import numpy as _np

        if SPILL is not None:
            # spill-load: stripe ownership is positional (s ≡ pid mod
            # NPARTS — the pack's round-robin blk_of rule), so the task
            # reconstructs its stripe set from its partition id alone and
            # reads raw records off the shared scratch
            from pyspark import TaskContext as _TC2

            for _ in it:
                pass  # drain the skeleton partition
            _mypid = _TC2.get().partitionId()
            raws = [_spill_read(SPILL, s2) for s2 in range(_mypid, NSTRIPES, NPARTS)]
        else:
            raws = [row_to_raw(row, NH, WEIGHTED) for row in it]
        stripes = [prepare_stripe(raw, HUBS, do_prune) for raw in raws]
        del raws
        deg = mm_open(wd, "deg.npy", "r")
        ranks = [mm_open(wd, "rank_0.npy"), mm_open(wd, "rank_1.npy")]
        rdivs = [mm_open(wd, "rdiv_0.npy"), mm_open(wd, "rdiv_1.npy")]
        el_mm = mm_open(wd, "el.npy")
        flag_mm = mm_open(wd, "flags.npy")
        if REDIST:
            dang_mm = mm_open(wd, "dang.npy", "r")
            dmass_mm = mm_open(wd, "dmass.npy")
            dang_slices = {st["s"]: _np.asarray(dang_mm[st["lo"]: st["hi"]]).astype(bool) for st in stripes}
        if NH:
            hubparts = [mm_open(wd, "hubpart_0.npy"), mm_open(wd, "hubpart_1.npy")]
            flagA_mm = mm_open(wd, "flagsA.npy")
            if dyn:
                hubaff_mm = mm_open(wd, "hubaff.npy")
            if dyn and do_expand:
                flagA0_mm = mm_open(wd, "flagsA0.npy")
        if dyn:
            mids = [mm_open(wd, "movers_ids_0.npy"), mm_open(wd, "movers_ids_1.npy")]
            mbms = [mm_open(wd, "movers_bm_0.npy"), mm_open(wd, "movers_bm_1.npy")]
            mcnt_mm = mm_open(wd, "mcnt.npy")
            vaff_mm = mm_open(wd, "vaff.npy")
            aff0_mm = mm_open(wd, "aff0.npy")
            sat_mm = mm_open(wd, "sat.npy")
            vaffs = {st["s"]: _np.array(vaff_mm[st["lo"]: st["hi"]], dtype=bool) for st in stripes}
            prev_As = {st["s"]: _np.empty(0, _np.int64) for st in stripes}
        deadline = time.time() + SYNC_DEADLINE_S
        step_times = []
        l = 0

        def mover_list(row_i, buf):
            segs = []
            for s2 in range(NSTRIPES):
                c = int(mcnt_mm[row_i, s2])
                if c:
                    lo2 = bounds_list[s2]
                    segs.append(_np.array(buf[lo2: lo2 + c]))
            if not segs:
                return _np.empty(0, _np.int64)
            return _np.concatenate(segs)  # sorted: segments are ordered

        while True:
            t0 = time.time()
            spin(flag_mm, l, deadline)
            if l > 0 and (float(el_mm[l, :].max()) < TOL or l >= MAXIT):
                break
            if MAXIT == 0:
                break
            cur, nxt = l % 2, (l + 1) % 2
            rdiv = rdivs[cur]
            mtotal = int(mcnt_mm[l, :].sum()) if (dyn and do_expand) else 0
            movers_alive = mtotal > 0
            # mover walks pick a strategy PER CONSUMER stripe (see
            # mover_edges).  The O(|M|) id concat is lazy so bitmap-only
            # iterations never pay it (it used to run on EVERY worker)
            _M_cell = []

            def get_M():
                if not _M_cell:
                    _M_cell.append(mover_list(l, mids[cur]))
                return _M_cell[0]
            # DF fast path: with expansion but no pruning the affected map is
            # monotone, so once EVERY stripe has saturated no mover can mark
            # anything new — stop emitting them (which also kills the A0 hub
            # walk and mover-list builds via movers_alive above).  Stale
            # reads of a peer's sat byte only delay the shut-off, never
            # suppress a needed mark (flags are monotone 0→1)
            sat_all = bool(
                dyn and do_expand and not do_prune and sat_mm.all()
            )
            # ---- phase A0: mark hubs reached from movers (hub src-CSR) ----
            # skipped entirely (including its sync) when the frontier is
            # dead — movers_alive is derived from the same mcnt row on
            # every stripe, so the skip decision is globally consistent
            if NH and dyn and do_expand and movers_alive:
                for st in stripes:
                    # a saturated stripe already wrote hubaff=1 for every
                    # hub it owns (vaff all-true, phase-B publication), so
                    # its hub walk cannot add a mark — skip it (saturation
                    # flags only exist in expand-without-prune mode)
                    sat_skip = not do_prune and sat_mm[st["s"]]
                    if st["husrc"].size and not sat_skip:
                        eidx = mover_edges(
                            st["husrc"], st["huoff"], st["hself_srcord"],
                            mtotal, mbms[cur], get_M,
                        )
                        if eidx.size:
                            hubaff_mm[st["hubcol"][eidx]] = 1
                    flagA0_mm[l + 1, st["s"]] = 1
                spin(flagA0_mm, l + 1, deadline)
            # ---- phase A1: salted hub partial sums (affected-only if dyn) ----
            if NH:
                needed = _np.flatnonzero(hubaff_mm) if dyn else None
                for st in stripes:
                    cols, part = hub_partials(st, rdiv, needed)
                    hubparts[cur][st["s"], cols] = part
                    flagA_mm[l + 1, st["s"]] = 1
                spin(flagA_mm, l + 1, deadline)
            dsh = (
                P_DAMP * float(dmass_mm[l, :].sum()) / N if REDIST else 0.0
            )
            # ---- phase B: rank update per owned stripe ----
            for st in stripes:
                s, lo, hi = st["s"], st["lo"], st["hi"]
                own_cols, own_offs = st["own_cols"], st["own_offs"]
                width = hi - lo
                if not dyn:
                    sums = full_gather(st, rdiv)
                    if own_cols.size:
                        sums[own_offs] += hubparts[cur][:, own_cols].sum(axis=0)
                    a, el, _ = rank_update(
                        sums, _np.array(ranks[cur][lo:hi]), None, C0 + dsh, P_DAMP
                    )
                    ranks[nxt][lo:hi] = a
                    rdivs[nxt][lo:hi] = a / _np.asarray(deg[lo:hi])
                    if REDIST:
                        dmass_mm[l + 1, s] = float(a[dang_slices[s]].sum())
                    el_mm[l + 1, s] = el
                    flag_mm[l + 1, s] = 1
                    continue
                # dynamic: O(|affected|) maintenance — single-buffer ranks
                # (only the owner touches its slice), write-set rdiv
                # updates, src-CSR mover extension
                vaff_s = vaffs[s]
                s_sat = bool(
                    do_expand and not do_prune and sat_mm[s]
                )  # owner's own byte — exact, set below
                if not s_sat:
                    if movers_alive and st["usrc"].size:
                        eidx = mover_edges(
                            st["usrc"], st["uoff"], st["self_srcord"],
                            mtotal, mbms[cur], get_M,
                        )
                        if eidx.size:
                            vaff_s[st["dstloc"][eidx]] = True
                    if own_cols.size:
                        vaff_s[own_offs] |= hubaff_mm[own_cols].astype(bool)
                    A = _np.flatnonzero(vaff_s)
                    if l == 0:
                        aff0_mm[s] = A.size
                    full_stripe = A.size == width
                    if full_stripe and do_expand and not do_prune:
                        sat_mm[s] = 1
                else:
                    A = None  # saturated: affected ≡ the whole slice
                    full_stripe = True
                rank_view = ranks[0][lo:hi]
                rdiv_cur_v = rdivs[cur][lo:hi]
                rdiv_nxt_v = rdivs[nxt][lo:hi]
                el = 0.0
                mover_pos = _np.empty(0, _np.int64)
                if full_stripe and width:
                    # contiguous twin of the sparse branch below — identical
                    # float expressions evaluated on whole slices (A would be
                    # arange(width)), so results are bit-equal while skipping
                    # the fancy-index gathers, the A0/usrc mover walks and
                    # (once sat_all) mover emission itself
                    r_A = _np.array(rank_view)
                    sums = full_gather(st, rdiv)
                    if own_cols.size:
                        sums[own_offs] += hubparts[cur][:, own_cols].sum(axis=0)
                    dv_A = _np.asarray(deg[lo:hi])
                    a_vals, el, rel = rank_update(
                        sums, r_A, dv_A, C0, P_DAMP, do_corr,
                        rel=(do_expand and not sat_all) or do_prune,
                    )
                    rank_view[:] = a_vals
                    if do_expand and not sat_all:
                        mover_pos = _np.flatnonzero(rel > D_TOL)
                    if do_prune:
                        vaff_s[rel <= C_TOL] = False
                    rdiv_nxt_v[:] = a_vals / dv_A
                elif A is not None and A.size:
                    r_A = _np.array(rank_view[A])
                    sums = affected_gather(st, rdiv, A)
                    if own_cols.size:
                        act = _np.flatnonzero(vaff_s[own_offs])
                        if act.size:
                            hub_tot = hubparts[cur][:, own_cols[act]].sum(axis=0)
                            pos = _np.searchsorted(A, own_offs[act])
                            sums[pos] += hub_tot
                    dv_A = _np.asarray(deg[lo:hi])[A]
                    a_vals, el, rel = rank_update(
                        sums, r_A, dv_A, C0, P_DAMP, do_corr, rel=do_expand or do_prune
                    )
                    rank_view[A] = a_vals
                    if do_expand:
                        mover_pos = A[rel > D_TOL]
                    if do_prune:
                        vaff_s[A[rel <= C_TOL]] = False
                    # rdiv_next: new values at A; repair the rest by
                    # stale-set copy (sparse frontier) or one contiguous
                    # memcpy (dense frontier — scattered writes lose)
                    if A.size > 0.5 * width:
                        rdiv_nxt_v[:] = rdiv_cur_v
                        rdiv_nxt_v[A] = a_vals / dv_A
                    else:
                        rdiv_nxt_v[A] = a_vals / dv_A
                        stale = _np.setdiff1d(prev_As[s], A, assume_unique=True)
                        if stale.size:
                            rdiv_nxt_v[stale] = rdiv_cur_v[stale]
                else:
                    stale = prev_As[s]
                    if stale.size:
                        rdiv_nxt_v[stale] = rdiv_cur_v[stale]
                if do_expand:
                    ids_abs = mover_pos + lo
                    if ids_abs.size:
                        mids[nxt][lo: lo + ids_abs.size] = ids_abs
                    mcnt_mm[l + 1, s] = ids_abs.size
                    if not sat_all:
                        # bitmap twin of the id segment (consumers pick by
                        # size); under sat_all nothing reads movers, so
                        # skip the O(width) slice write too
                        bm_v = mbms[nxt][lo:hi]
                        bm_v[:] = 0
                        if mover_pos.size:
                            bm_v[mover_pos] = 1
                if own_cols.size:
                    # authoritative hub-affected state after prune/extension
                    hubaff_mm[own_cols] = vaff_s[own_offs].astype(_np.uint8)
                if A is not None:  # saturated stripes keep their last A
                    prev_As[s] = A
                el_mm[l + 1, s] = el
                flag_mm[l + 1, s] = 1
            step_times.append(time.time() - t0)
            l += 1
        if dyn:  # publish final frontier state for segmented/checkpointed runs
            for st in stripes:
                vaff_mm[st["lo"]: st["hi"]] = vaffs[st["s"]].astype(_np.uint8)
        if any(st["s"] == 0 for st in stripes):
            yield (l, step_times)
        else:
            yield None

    try:
        os.makedirs(wd)
        mm_create(wd, "deg.npy", (N,), np.float64, safe_deg)
        mm_create(wd, "rank_0.npy", (N,), np.float64, r0)
        mm_create(wd, "rank_1.npy", (N,), np.float64, 0.0)
        mm_create(wd, "rdiv_0.npy", (N,), np.float64, r0 / safe_deg)
        # dynamic mode updates rdiv by write-set, so both buffers must start
        # equal (unaffected entries are never rewritten)
        mm_create(wd, "rdiv_1.npy", (N,), np.float64, r0 / safe_deg)
        mm_create(wd, "el.npy", (MAXIT + 2, n_stripes), np.float64, 0.0)
        if redistribute:
            dang = outdeg == 0
            mm_create(wd, "dang.npy", (N,), np.uint8, dang.astype(np.uint8))
            dmass = mm_create(wd, "dmass.npy", (MAXIT + 2, n_stripes), np.float64, 0.0)
            for s in range(n_stripes):
                dmass[0, s] = float(r0[bounds[s]: bounds[s + 1]][dang[bounds[s]: bounds[s + 1]]].sum())
            dmass.flush()
        if n_hubs:
            mm_create(wd, "hubpart_0.npy", (n_stripes, n_hubs), np.float64, 0.0)
            mm_create(wd, "hubpart_1.npy", (n_stripes, n_hubs), np.float64, 0.0)
            mm_create(wd, "flagsA.npy", (MAXIT + 2, n_stripes), np.uint8, 0)
            if dynamic:
                mm_create(wd, "hubaff.npy", (n_hubs,), np.uint8, vaff0[HUBS].astype(np.uint8))
            if dynamic and expand:
                mm_create(wd, "flagsA0.npy", (MAXIT + 2, n_stripes), np.uint8, 0)
        if dynamic:
            mm_create(wd, "vaff.npy", (N,), np.uint8, vaff0.astype(np.uint8))
            # per-stripe saturation flags (DF expand-without-prune only): once a
            # stripe's whole slice is affected its bitmap can never change again
            # (marking is monotone without pruning), so owners advertise
            # saturation here and the mover machinery shuts itself off when
            # every stripe has saturated — a dense-batch (1e-3·|E|) DF run then
            # pays ND's per-superstep cost instead of a second edge walk
            mm_create(wd, "sat.npy", (n_stripes,), np.uint8, 0)
            # movers exchanged two ways, consumers pick per stripe by size:
            # id lists (stripe s owns segment [bounds[s], bounds[s]+mcnt[row,s])
            # of movers_ids_{row%2}) are cheap to WALK when the frontier is
            # sparse (O(|M|·log|usrc|) searchsorted); the ping-pong BITMAP is
            # cheap when it is dense (one O(|usrc|) byte gather, independent of
            # |M|) — without it a dense-but-unsaturated 1e-3 frontier pays a
            # near-|E| searchsorted walk per stripe per superstep plus a ×P
            # duplicated O(|M|) id concat, which is what made full-size DF
            # slower than a static recompute
            mids0 = mm_create(wd, "movers_ids_0.npy", (N,), np.int64, 0)
            mm_create(wd, "movers_ids_1.npy", (N,), np.int64, 0)
            mbm0 = mm_create(wd, "movers_bm_0.npy", (N,), np.uint8, 0)
            mm_create(wd, "movers_bm_1.npy", (N,), np.uint8, 0)
            mcnt = mm_create(wd, "mcnt.npy", (MAXIT + 2, n_stripes), np.int64, 0)
            # per-stripe |affected| after iteration 0's mover expansion: the
            # initial affected set when marking is seeded through movers0
            mm_create(wd, "aff0.npy", (n_stripes,), np.int64, 0)
            if movers0 is not None and movers0.any():
                for s in range(n_stripes):
                    lo, hi = int(bounds[s]), int(bounds[s + 1])
                    ids = np.flatnonzero(movers0[lo:hi]).astype(np.int64) + lo
                    mids0[lo: lo + ids.size] = ids
                    mcnt[0, s] = ids.size
                mbm0[:] = movers0.astype(np.uint8)
                mids0.flush()
                mbm0.flush()
                mcnt.flush()
        flags = mm_create(wd, "flags.npy", (MAXIT + 2, n_stripes), np.uint8, 0)
        flags[0, :] = 1
        flags.flush()

        if SPILL is not None:
            # lightweight skeleton job: one int per partition, stripes load
            # from the spill — no blob rows cross the JVM/Python boundary
            # the active session, not graph.edges': a delta-packed snapshot
            # derives its edge frame only when a DataFrame consumer asks
            sc = SparkSession.active().sparkContext
            base = sc.parallelize(range(NPARTS), NPARTS)
            results = [x for x in base.barrier().mapPartitions(loop).collect() if x]
        else:
            results = [x for x in packed.rdd.barrier().mapPartitions(loop).collect() if x]
        iters, step_times = results[0]
        # setup = memmap init + barrier dispatch + stripe deserialization and
        # any other wall outside the worker-timed supersteps
        setup_sec = (time.time() - t_pack) - pack_sec - sum(step_times)
        rank_file = "rank_0.npy" if dynamic else f"rank_{iters % 2}.npy"
        r = np.array(mm_open(wd, rank_file, "r"))
        el_final = float(mm_open(wd, "el.npy", "r")[iters, :].max())
        state = {"converged": el_final < TOL, "el": el_final, "bounds": bounds}
        affected_initial = 0
        if dynamic:
            affected_initial = (
                int(np.load(os.path.join(wd, "aff0.npy")).sum())
                if iters
                else int(vaff0.sum())
            )
            state["vaff"] = np.array(mm_open(wd, "vaff.npy", "r")).astype(bool)
            movers = np.zeros(N, dtype=bool)
            mcnt_fin = mm_open(wd, "mcnt.npy", "r")[iters, :]
            mids_fin = mm_open(wd, f"movers_ids_{iters % 2}.npy", "r")
            for s in range(n_stripes):
                c = int(mcnt_fin[s])
                if c:
                    movers[np.array(mids_fin[bounds[s]: bounds[s] + c])] = True
            state["movers"] = movers
    finally:
        _remove_scratch(wd)
    return PagerankResult(
        r,
        iters,
        time.time() - t_all,
        affected_initial=affected_initial,
        superstep_seconds=step_times,
        state=state,
        pack_seconds=pack_sec,
        setup_seconds=max(setup_sec, 0.0),
    )


def pagerank_static_bsp(
    graph, opts: PagerankOptions | None = None, q: np.ndarray | None = None
) -> PagerankResult:
    """Static PageRank (q=None), or Naive-Dynamic from the prior ranks q:
    every vertex affected, warm-started (absent vertices start at 0)."""
    return _bsp_loop(graph, opts or PagerankOptions(), q=q)


def pagerank_dynamic_traversal_bsp(
    old, new, deletions, insertions, q: np.ndarray, opts: PagerankOptions | None = None
) -> PagerankResult:
    opts = opts or PagerankOptions()
    vaff = _traversal_marks(old, new, deletions, insertions)
    return _bsp_loop(new, opts, q=q, vaff0=vaff)


def _frontier_seeds(new, deletions, insertions) -> tuple[np.ndarray, np.ndarray]:
    """DF seeds of a TIDIED batch: (vaff0, movers0) with
    vaff0 = srcs(D∪I) ∪ dst(D) and movers0 = srcs(D∪I).

    The batch is read without a Spark job when `new` is the fast-path
    child whose delta pack collected these very two frames (same objects,
    kept on the child); any other batch costs one small collect.  The
    arrays are the unfiltered batch, (v,v) deletions included, so both
    routes give the same seeds.

    The loop's iteration-0 mover expansion then marks the new-graph
    out-neighbours of movers0, which completes the reference's initial
    marks (pagerank.hxx:645–652: old-graph out-neighbours of deletion
    sources ∪ new-graph out-neighbours of insertion sources) without the
    two |E| semi-join scans of _frontier_marks: for a tidied batch an
    old-graph out-neighbour of u is a new-graph one or a deleted dst.
    Sources are marked here because DF-P's expansion skips self-loops."""
    kept = getattr(new, "_batch", None)
    if kept is not None and kept[0] is deletions and kept[1] is insertions:
        src, dst, is_del = kept[2:]
    else:
        pdf = _collect_batch(deletions, insertions)
        src = pdf["src"].to_numpy(np.int64)
        dst = pdf["dst"].to_numpy(np.int64)
        is_del = pdf["is_del"].to_numpy(bool)
    vaff = np.zeros(new.n, dtype=bool)
    movers = np.zeros(new.n, dtype=bool)
    movers[src] = True
    vaff[movers] = True
    vaff[dst[is_del]] = True
    return vaff, movers


def pagerank_dynamic_frontier_bsp(
    old, new, deletions, insertions, q: np.ndarray, opts: PagerankOptions | None = None
) -> PagerankResult:
    """Dynamic Frontier on BSP.  `old` is unused: the marks are seeded from
    the tidied batch (see _frontier_seeds); kept for the shared signature."""
    vaff, movers = _frontier_seeds(new, deletions, insertions)
    return _bsp_loop(
        new, opts or PagerankOptions(), q=q, vaff0=vaff, expand=True, movers0=movers
    )


def pagerank_dynamic_frontier_prune_bsp(
    old, new, deletions, insertions, q: np.ndarray, opts: PagerankOptions | None = None
) -> PagerankResult:
    """Dynamic Frontier with Pruning on BSP; seeded like the DF entry."""
    vaff, movers = _frontier_seeds(new, deletions, insertions)
    return _bsp_loop(
        new, opts or PagerankOptions(), q=q, vaff0=vaff,
        corrected=True, expand=True, prune=True, movers0=movers,
    )


class WeightedSnapshot:
    """Minimal weighted-graph snapshot for the BSP path: (src, dst, w)
    edges cached dst-partitioned, wdeg side array.  No self-loop injection
    — dangling mass is redistributed per superstep (mtx.hxx:119 readers
    accept weights)."""

    def __init__(self, edges_w, n: int, partitions: int | None = None):
        spark = edges_w.sparkSession
        p = partitions or spark.sparkContext.defaultParallelism
        self.edges = edges_w.select("src", "dst", "w").repartition(p, "dst").persist()
        self.edges.count()
        self.n = n
        self._wdeg: np.ndarray | None = None
        self._bsp_packed: tuple | None = None

    def outdeg_array(self) -> np.ndarray:
        if self._wdeg is None:
            pdf = self.edges.groupBy("src").agg(F.sum("w").alias("wdeg")).toPandas()
            arr = np.zeros(self.n, dtype=np.float64)
            arr[pdf["src"].to_numpy()] = pdf["wdeg"].to_numpy()
            self._wdeg = arr
        return self._wdeg

    def pack_input(self):
        return self.edges, False

    def bsp_packed(self, p: int | None = None, hub_factor: float = 4.0) -> tuple:
        if self._bsp_packed is None:
            self._bsp_packed = bsp_pack(self, p, hub_factor=hub_factor)
        return self._bsp_packed

    def unpersist(self) -> None:
        self.edges.unpersist()
        if self._bsp_packed is not None:
            self._bsp_packed[0].unpersist()
            self._bsp_packed = None


def pagerank_weighted_bsp(
    edges_w, n: int, opts: PagerankOptions | None = None
) -> PagerankResult:
    """Weighted pull PageRank on the BSP path:
    a[v] = C0 + P·(Σ w_uv·r[u]/wdeg(u) + dangling_mass/N)."""
    opts = opts or PagerankOptions(dangling="redistribute")
    if opts.dangling != "redistribute":
        raise ValueError(
            f"dangling={opts.dangling!r}: weighted BSP redistributes dangling "
            "mass (dangling='redistribute')"
        )
    g = WeightedSnapshot(edges_w, n)
    try:
        return _bsp_loop(g, opts, weighted=True)
    finally:
        g.unpersist()
