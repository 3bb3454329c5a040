"""Cross-node BSP PageRank — TCP ring-allgather exchange.

The /dev/shm memmap exchange in pagerank_bsp assumes every stripe task can
mmap one shared directory — true on one host (or a truly coherent shared
FS), false on a generic multi-node cluster.  This module runs the SAME
resident-stripe convergence loop with the iteration exchange done over
peer-to-peer TCP instead of shared files, so it works across nodes with no
shared storage at all.  The per-stripe work (blob decode, stripe
preparation, gathers, hub partials, rank update) is _stripe_pack's kernel,
the same functions the memmap loop calls; this module owns the exchange:

  * tasks exchange (partition id, host, port) through
    ``BarrierTaskContext.allGather`` — one ~1 s barrier round-trip per job,
    and inherently safe across barrier stage retries (each attempt gathers
    its own fresh roster; a one-shot driver-socket rendezvous would leave
    retried tasks unable to re-register),
  * tasks form a ring in partition-id order (each keeps exactly two
    persistent connections),
  * per iteration each task updates the ranks of its owned stripes, then a
    (P−1)-step ring allgather circulates every task's block
    (slices + local L∞); after the ring every task holds the full rank
    vector and the global L∞, so all tasks take the same stop decision —
    no flags, no shared files, no driver round-trip per iteration.

Bandwidth is optimal for the static family (each task sends/receives
exactly |V|·8 bytes per iteration regardless of P); latency is (P−1) hops
of pipelined small blocks.  A dedicated writer thread per task prevents
the classic all-sendall ring deadlock when blocks exceed kernel socket
buffers.  Ring reads carry a receive timeout so a lost peer surfaces as a
task error (and a stage retry) instead of an indefinite hang.

Salted high-degree hubs are supported by a second (cheap) ring phase per
iteration: each task's NH-float salted-partial vector circulates once and
every task sums all P contributions, so hub homes fold complete totals
into their update — message order between the phases is preserved by TCP
FIFO + the single writer queue.

Dynamic family (DF / DF-P / DT — pagerankCuda.hxx:951–988 semantics, same
as pagerank_bsp._bsp_loop): each task owns the vaff flags of its stripes;
per iteration the ring additionally carries (a) an NH-byte hub-affected
mark bitmap (OR-allreduce, the memmap loop's A0 phase) when movers are
alive, (b) each task's mover-id segment and updated (id, value) pairs —
so cross-node traffic is O(affected) for sparse frontiers, matching the
O(affected) compute.  Semantics cross-checked against pagerank_bsp/csr in
tests to 1e-10 (including forced hub salting).

It is the only engine that needs no shared filesystem, which is why it is
kept next to the memmap loop.
"""

from __future__ import annotations

import json
import pickle
import socket
import struct
import threading
import time

import numpy as np

from pagerank_cuda_dynamic_spark.operators.pagerank import (
    PagerankOptions,
    PagerankResult,
)
from pagerank_cuda_dynamic_spark.operators._stripe_pack import (
    affected_gather,
    csr_lookup,
    full_gather,
    hub_partials,
    prepare_stripe,
    rank_update,
    row_to_raw,
)
from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import _initial_ranks, bsp_pack

# a peer silent for this long is treated as lost (task error → stage retry)
RING_RECV_TIMEOUT_S = 300.0


def _tcp_loop(
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
    """Generalized TCP-ring convergence loop (static/ND/DT/DF/DF-P, ±w).

    Weighted mode mirrors pagerank_weighted_bsp: contributions are
    w_uv·r[u]/wdeg(u) from bsp_pack's w_bin/hub_w_bin blobs, no self-loop
    injection, dangling mass redistributed per superstep.  The dangling
    share needs NO extra ring traffic: after the allgather every task
    holds the full rank vector, so each computes the identical global
    dangling sum locally from the broadcast dangling-id list.  An
    unweighted static run redistributes the same way when
    opts.dangling == "redistribute".  The per-stripe gathers and the update
    are _stripe_pack's kernel; this function owns the ring exchange."""
    dynamic = vaff0 is not None
    REDIST = opts.dangling == "redistribute"
    if (corrected or dynamic) and REDIST:
        raise ValueError(
            "dangling='redistribute': TCP dynamic modes assume self-looped "
            "graphs (dangling='selfloop')"
        )
    if (corrected or dynamic) and weighted:
        raise ValueError("TCP dynamic modes are unweighted (reference regime)")
    if weighted and not REDIST:
        raise ValueError(
            f"dangling={opts.dangling!r}: weighted TCP redistributes dangling "
            "mass (dangling='redistribute')"
        )
    if not weighted and "w" in graph.edges.columns:
        # without the flag the loop would ignore the w_bin blobs and
        # silently compute UNWEIGHTED ranks — refuse loudly instead
        raise ValueError(
            "TCP ring path got a weighted graph without weighted=True; "
            "unweighted entry points reject 'w' — use pagerank_weighted_tcp"
        )
    t_all = time.time()
    spark = graph.edges.sparkSession
    sc = spark.sparkContext
    N = graph.n
    r0 = _initial_ranks(q, N)
    P_DAMP = opts.damping
    TOL = opts.tolerance
    MAXIT = opts.max_iterations
    D_TOL = opts.frontier_tolerance
    C_TOL = opts.prune_tolerance
    C0 = (1.0 - P_DAMP) / N
    do_expand = expand
    do_prune = prune
    do_corr = corrected

    packed, bounds, n_stripes, hubs = bsp_pack(graph)
    NH = int(hubs.size)

    _deg = graph.outdeg_array()
    # dangling-only guard; np.maximum would clamp weighted degrees in (0,1)
    safe_deg = np.where(_deg > 0, _deg, 1.0)
    WEIGHTED = weighted
    bc_dang = sc.broadcast(np.flatnonzero(_deg == 0)) if REDIST else None
    bc_deg = sc.broadcast(safe_deg)
    bc_r0 = sc.broadcast(r0)
    bc_hubs = sc.broadcast(hubs)
    bc_vaff = sc.broadcast(vaff0.astype(np.uint8)) if dynamic else None
    movers_init = (
        np.flatnonzero(movers0).astype(np.int64)
        if (movers0 is not None and movers0.any())
        else np.empty(0, np.int64)
    )
    bc_movers = sc.broadcast(movers_init) if dynamic else None

    def loop(it):
        import numpy as _np
        from pyspark import BarrierTaskContext

        # local copies of the framing helpers: referencing module-level
        # functions would force workers to import this package, which is
        # not on their sys.path when the driver added the repo at runtime
        def _send_msg(sock, payload):
            sock.sendall(struct.pack("<Q", len(payload)) + payload)

        def _recv_msg(sock):
            hdr = b""
            while len(hdr) < 8:
                chunk = sock.recv(8 - len(hdr))
                if not chunk:
                    raise ConnectionError("ring peer closed")
                hdr += chunk
            (n,) = struct.unpack("<Q", hdr)
            buf = bytearray(n)
            view = memoryview(buf)
            got = 0
            while got < n:
                r2 = sock.recv_into(view[got:], min(n - got, 1 << 20))
                if r2 == 0:
                    raise ConnectionError("ring peer closed mid-message")
                got += r2
            return bytes(buf)

        ctx = BarrierTaskContext.get()
        pid = ctx.partitionId()

        hub_ids = _np.asarray(bc_hubs.value)
        stripes = [
            prepare_stripe(row_to_raw(row, NH, WEIGHTED), hub_ids, do_prune)
            for row in it
        ]

        # listen before the roster gather so the ring can connect immediately
        lsock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        lsock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        lsock.bind(("0.0.0.0", 0))
        lsock.listen(4)
        my_port = lsock.getsockname()[1]
        try:
            my_host = socket.gethostbyname(socket.gethostname())
        except OSError:
            my_host = "127.0.0.1"

        # retry-safe rendezvous: every barrier attempt gathers a fresh roster
        roster = [
            json.loads(m)
            for m in ctx.allGather(json.dumps({"pid": pid, "host": my_host, "port": my_port}))
        ]
        roster.sort(key=lambda e: e["pid"])
        P = len(roster)
        nxt_info = roster[(pid + 1) % P]
        # connect to next; accept from prev (ordering is deadlock-free:
        # every task does connect-then-accept against distinct peers)
        send_sock = None
        deadline = time.time() + 120
        while send_sock is None:
            try:
                send_sock = socket.create_connection(
                    (nxt_info["host"], nxt_info["port"]), timeout=5
                )
            except OSError:
                if time.time() > deadline:
                    raise
                time.sleep(0.05)
        lsock.settimeout(120)
        recv_sock, _ = lsock.accept()
        # a dead peer must surface as a task error, not an indefinite recv
        recv_sock.settimeout(RING_RECV_TIMEOUT_S)
        send_sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)

        # writer thread: breaks the ring deadlock of every task stuck in sendall
        out_q: list = []
        out_cv = threading.Condition()
        done_flag = [False]

        def writer():
            while True:
                with out_cv:
                    while not out_q and not done_flag[0]:
                        out_cv.wait()
                    if not out_q and done_flag[0]:
                        return
                    payload = out_q.pop(0)
                _send_msg(send_sock, payload)

        wt = threading.Thread(target=writer, daemon=True)
        wt.start()

        def ring_send(payload: bytes) -> None:
            with out_cv:
                out_q.append(payload)
                out_cv.notify()

        deg = _np.asarray(bc_deg.value)
        dang_idx = _np.asarray(bc_dang.value) if REDIST else None
        r = _np.array(bc_r0.value)
        rdiv = r / deg
        if dynamic:
            vaffs = [
                _np.array(bc_vaff.value[st["lo"]: st["hi"]], dtype=bool)
                for st in stripes
            ]
            hubaff = _np.array(bc_vaff.value[hub_ids], dtype=_np.uint8) if NH else None
            M = _np.asarray(bc_movers.value)  # sorted (flatnonzero order)
        step_times = []
        l = 0
        while l < MAXIT:
            t0 = time.time()
            movers_alive = bool(dynamic and do_expand and M.size)
            # ---- ring phase A0 (dynamic+hubs): OR-allreduce hub marks ----
            # each task marks hubs reached from the global mover list via
            # its salted hub src-CSR; the NH-byte bitmaps circulate once and
            # everyone ORs all P contributions into its hubaff copy
            if NH and movers_alive:
                marks = _np.zeros(NH, dtype=_np.uint8)
                for st in stripes:
                    if st["husrc"].size:
                        eidx = csr_lookup(M, st["husrc"], st["huoff"])
                        if st["hself_srcord"] is not None:
                            eidx = eidx[~st["hself_srcord"][eidx]]
                        if eidx.size:
                            marks[st["hubcol"][eidx]] = 1
                acc = marks.copy()
                cur_m = marks.tobytes()
                for _ in range(P - 1):
                    ring_send(cur_m)
                    cur_m = _recv_msg(recv_sock)
                    acc |= _np.frombuffer(cur_m, dtype=_np.uint8)
                hubaff |= acc
            # ---- ring phase A1 (hubs): allreduce salted partials ----
            hub_tot = None
            if NH:
                needed = _np.flatnonzero(hubaff) if dynamic else None
                local_part = _np.zeros(NH)
                for st in stripes:
                    cols, part = hub_partials(st, rdiv, needed)
                    local_part[cols] += part
                hub_tot = local_part.copy()
                cur_h = local_part.tobytes()
                for _ in range(P - 1):
                    ring_send(cur_h)
                    cur_h = _recv_msg(recv_sock)
                    hub_tot += _np.frombuffer(cur_h)
            # ---- phase B: rank update per owned stripe ----
            el_local = 0.0
            # dangling share of the CURRENT rank vector — every task holds
            # the full post-allgather r, so this is bit-identical ring-wide
            dsh = (
                P_DAMP * float(r[dang_idx].sum()) / N if REDIST else 0.0
            )
            if not dynamic:
                my_slices = []
                for st in stripes:
                    lo, hi = st["lo"], st["hi"]
                    own_cols, own_offs = st["own_cols"], st["own_offs"]
                    sums = full_gather(st, rdiv)
                    if own_cols.size:
                        sums[own_offs] += hub_tot[own_cols]
                    a, el, _ = rank_update(sums, r[lo:hi], None, C0 + dsh, P_DAMP)
                    el_local = max(el_local, el)
                    my_slices.append((lo, hi, a.tobytes()))
                block = pickle.dumps((pid, el_local, my_slices))
                el_max = el_local
                for lo, hi, ab in my_slices:
                    a = _np.frombuffer(ab)
                    r[lo:hi] = a
                    rdiv[lo:hi] = a / deg[lo:hi]
                # ring allgather: P-1 forwarding steps
                cur = block
                for _ in range(P - 1):
                    ring_send(cur)
                    cur = _recv_msg(recv_sock)
                    _bpid, bel, bslices = pickle.loads(cur)
                    el_max = max(el_max, bel)
                    for lo, hi, ab in bslices:
                        a = _np.frombuffer(ab)
                        r[lo:hi] = a
                        rdiv[lo:hi] = a / deg[lo:hi]
            else:
                # dynamic: O(affected) update + O(affected) ring traffic —
                # updates travel as (id, value) pairs, movers as id lists
                my_upds = []
                my_movers = []
                my_hub_states = []
                for si, st in enumerate(stripes):
                    lo, hi = st["lo"], st["hi"]
                    own_cols, own_offs = st["own_cols"], st["own_offs"]
                    vaff_s = vaffs[si]
                    if M.size and st["usrc"].size:
                        eidx = csr_lookup(M, st["usrc"], st["uoff"])
                        if st["self_srcord"] is not None:
                            eidx = eidx[~st["self_srcord"][eidx]]
                        if eidx.size:
                            vaff_s[st["dstloc"][eidx]] = True
                    if own_cols.size:
                        vaff_s[own_offs] |= hubaff[own_cols].astype(bool)
                    A = _np.flatnonzero(vaff_s)
                    if A.size:
                        r_A = _np.array(r[lo:hi][A])
                        sums = affected_gather(st, rdiv, A)
                        if own_cols.size:
                            act = _np.flatnonzero(vaff_s[own_offs])
                            if act.size:
                                pos = _np.searchsorted(A, own_offs[act])
                                sums[pos] += hub_tot[own_cols[act]]
                        a_vals, el, rel = rank_update(
                            sums, r_A, deg[lo:hi][A], C0, P_DAMP, do_corr,
                            rel=do_expand or do_prune,
                        )
                        el_local = max(el_local, el)
                        if do_expand:
                            my_movers.append((A[rel > D_TOL] + lo).astype(_np.int64))
                        if do_prune:
                            vaff_s[A[rel <= C_TOL]] = False
                        my_upds.append(((A + lo).astype(_np.int64), a_vals))
                    if own_cols.size:
                        # authoritative post-prune hub-affected state
                        my_hub_states.append(
                            (own_cols.astype(_np.int64), vaff_s[own_offs].astype(_np.uint8))
                        )
                # apply own updates (computed entirely from iteration-l state)
                for ids, vals in my_upds:
                    r[ids] = vals
                    rdiv[ids] = vals / deg[ids]
                if NH:
                    for cols, bits in my_hub_states:
                        hubaff[cols] = bits
                mover_segs = list(my_movers)
                block = pickle.dumps(
                    (
                        pid,
                        el_local,
                        [(ids.tobytes(), vals.tobytes()) for ids, vals in my_upds],
                        [m.tobytes() for m in my_movers],
                        [(c.tobytes(), b.tobytes()) for c, b in my_hub_states],
                    )
                )
                el_max = el_local
                cur = block
                for _ in range(P - 1):
                    ring_send(cur)
                    cur = _recv_msg(recv_sock)
                    _bpid, bel, bupds, bmov, bhub = pickle.loads(cur)
                    el_max = max(el_max, bel)
                    for ib, vb in bupds:
                        ids = _np.frombuffer(ib, dtype=_np.int64)
                        vals = _np.frombuffer(vb)
                        r[ids] = vals
                        rdiv[ids] = vals / deg[ids]
                    for mb in bmov:
                        mover_segs.append(_np.frombuffer(mb, dtype=_np.int64))
                    if NH:
                        for cb, bb in bhub:
                            hubaff[_np.frombuffer(cb, dtype=_np.int64)] = (
                                _np.frombuffer(bb, dtype=_np.uint8)
                            )
                M = (
                    _np.sort(_np.concatenate(mover_segs))
                    if mover_segs
                    else _np.empty(0, _np.int64)
                )
            l += 1
            step_times.append(time.time() - t0)
            if el_max < TOL:
                break
        with out_cv:
            done_flag[0] = True
            out_cv.notify()
        wt.join(timeout=10)
        send_sock.close()
        recv_sock.close()
        lsock.close()
        out = {
            "pid": pid,
            "iters": l,
            "steps": step_times,
            "slices": [(st["lo"], st["hi"], r[st["lo"]: st["hi"]].tobytes()) for st in stripes],
        }
        if dynamic:
            out["vaff"] = [
                (st["lo"], st["hi"], vaffs[si].astype(_np.uint8).tobytes())
                for si, st in enumerate(stripes)
            ]
            if pid == 0:
                out["movers"] = M.tobytes()
        yield out

    rows = packed.rdd.barrier().mapPartitions(loop).collect()
    ranks = np.full(N, C0)
    iters, steps = 0, []
    vaff_fin = np.zeros(N, dtype=bool) if dynamic else None
    movers_fin = np.zeros(N, dtype=bool) if dynamic else None
    for row in rows:
        iters = max(iters, row["iters"])
        if row["pid"] == 0:
            steps = row["steps"]
            if dynamic and "movers" in row:
                mids = np.frombuffer(row["movers"], dtype=np.int64)
                if mids.size:
                    movers_fin[mids] = True
        for lo, hi, rb in row["slices"]:
            ranks[lo:hi] = np.frombuffer(rb)
        if dynamic:
            for lo, hi, vb in row["vaff"]:
                vaff_fin[lo:hi] = np.frombuffer(vb, dtype=np.uint8).astype(bool)
    packed.unpersist()
    bc_deg.destroy()
    bc_r0.destroy()
    bc_hubs.destroy()
    if bc_dang is not None:
        bc_dang.destroy()
    if bc_vaff is not None:
        bc_vaff.destroy()
    if bc_movers is not None:
        bc_movers.destroy()
    state = {"converged": iters < MAXIT, "exchange": "tcp-ring"}
    if dynamic:
        state["vaff"] = vaff_fin
        state["movers"] = movers_fin
    return PagerankResult(
        ranks,
        iters,
        time.time() - t_all,
        affected_initial=int(vaff0.sum()) if dynamic else 0,
        superstep_seconds=steps,
        state=state,
    )


def pagerank_static_tcp(
    graph,
    opts: PagerankOptions | None = None,
    q: np.ndarray | None = None,
) -> PagerankResult:
    """Static (q=None) or warm-start PageRank with the TCP ring exchange.
    Runs anywhere barrier tasks can open sockets to each other — no shared
    filesystem required."""
    return _tcp_loop(graph, opts or PagerankOptions(), q=q)


def pagerank_dynamic_traversal_tcp(
    old, new, deletions, insertions, q: np.ndarray, opts: PagerankOptions | None = None
) -> PagerankResult:
    from pagerank_cuda_dynamic_spark.operators.pagerank import (
        _adjust_warm_start,
        _traversal_marks,
    )

    opts = opts or PagerankOptions()
    vaff = _traversal_marks(old, new, deletions, insertions)
    return _tcp_loop(new, opts, q=_adjust_warm_start(q, new.n), vaff0=vaff)


def pagerank_dynamic_frontier_tcp(
    old, new, deletions, insertions, q: np.ndarray, opts: PagerankOptions | None = None
) -> PagerankResult:
    from pagerank_cuda_dynamic_spark.operators.pagerank import (
        _adjust_warm_start,
        _frontier_marks,
    )

    opts = opts or PagerankOptions()
    vaff = _frontier_marks(old, new, deletions, insertions)
    return _tcp_loop(
        new, opts, q=_adjust_warm_start(q, new.n), vaff0=vaff, expand=True
    )


def pagerank_dynamic_frontier_prune_tcp(
    old, new, deletions, insertions, q: np.ndarray, opts: PagerankOptions | None = None
) -> PagerankResult:
    from pagerank_cuda_dynamic_spark.operators.pagerank import (
        _adjust_warm_start,
        _frontier_marks,
    )

    opts = opts or PagerankOptions()
    vaff = _frontier_marks(old, new, deletions, insertions)
    return _tcp_loop(
        new,
        opts,
        q=_adjust_warm_start(q, new.n),
        vaff0=vaff,
        corrected=True,
        expand=True,
        prune=True,
    )


def pagerank_weighted_tcp(
    edges_w, n: int, opts: PagerankOptions | None = None
) -> PagerankResult:
    """Weighted pull PageRank over the TCP ring — cross-node twin of
    pagerank_weighted_bsp (a[v] = C0 + dsh + P·Σ w_uv·r[u]/wdeg(u), dangling
    mass redistributed each superstep).  Same w_bin/hub_w_bin stripe blobs;
    the ring still carries exactly |V|·8 bytes per iteration."""
    from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import WeightedSnapshot

    opts = opts or PagerankOptions(dangling="redistribute")
    if opts.dangling != "redistribute":
        raise ValueError(
            f"dangling={opts.dangling!r}: weighted TCP redistributes dangling "
            "mass (dangling='redistribute')"
        )
    g = WeightedSnapshot(edges_w, n)
    try:
        return _tcp_loop(g, opts, weighted=True)
    finally:
        g.unpersist()
