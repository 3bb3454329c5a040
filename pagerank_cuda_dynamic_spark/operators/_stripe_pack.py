"""The stripe kernel and the barrier runtime shared by every BSP loop: the
stripe record layout (pack, blob row, spill), the per-stripe NumPy gathers
and rank update, the stripe router, and the memmap / flag-spin helpers.

The memmap loop (pagerank_bsp._bsp_loop), the TCP ring
(pagerank_tcp._tcp_loop) and the label loop (components_bsp._label_loop)
keep only their exchange code and call these functions for the rest.

The module registers itself for BY-VALUE cloudpickle serialization: Spark
Python workers do not inherit the driver's runtime sys.path edits, so a
worker-executed closure that references a module-level function of this
package by REFERENCE dies with ModuleNotFoundError whenever the driver
added the repo to sys.path at runtime (spark-submit from another cwd, the
driver harness, notebooks).  By value, cloudpickle ships these functions'
code with the closure instead.

The stripe record layout is THE single source of truth for the BSP CSR:
array dtypes carry the int32/int64 choice, so a record is self-describing
whether it travels as a blob row (PACK_SCHEMA) or a spill file.

A prepared stripe (prepare_stripe) covers dst rows [lo, hi): a dst-CSR of
its regular in-edges (src, offsets), a hub-block CSR of the salted hub
in-edges it holds over the full hub list (hsrc, hoff), src-sorted views of
both for mover expansion (usrc/uoff/dstloc, husrc/huoff/hubcol).  Every
gather reads the regular CSR in row (dst) order, the reference's one
gather order.
"""

from __future__ import annotations

import os
import pickle
import sys
import time

import numpy as np
from pyspark import cloudpickle

cloudpickle.register_pickle_by_value(sys.modules[__name__])

# a barrier loop that waits longer than this on its flags, in total, fails
SYNC_DEADLINE_S = 3600

# a consumer stripe gathers the mover bitmap over its src-sorted view once
# |movers| · MOVER_BITMAP_FACTOR > |usrc|, and walks the mover id list
# below that (see mover_edges)
MOVER_BITMAP_FACTOR = 8


def _pack_stripe_raw(
    s: int,
    lo: int,
    hi: int,
    src_all: np.ndarray,
    dst_all: np.ndarray,
    w_all: np.ndarray | None,
    hub_ids: np.ndarray,
    weighted: bool,
) -> dict:
    """Pack ONE stripe's edges into the raw CSR arrays: contiguous dst-CSR
    for regular rows, hub-block CSR over the full hub list for salted hub
    rows, and src-sorted views of both (mover-extension indexes)
    (csr.hxx:107–286 analog)."""
    if hub_ids.size:
        hub_col = np.searchsorted(hub_ids, dst_all)
        hub_col = np.where(
            (hub_col < hub_ids.size)
            & (hub_ids[np.minimum(hub_col, hub_ids.size - 1)] == dst_all),
            hub_col,
            -1,
        )
        is_h = hub_col >= 0
    else:
        hub_col = np.empty(0, np.int64)
        is_h = np.zeros(src_all.size, dtype=bool)
    # regular rows → contiguous-stripe CSR (dst order)
    src = src_all[~is_h]
    dstoff = dst_all[~is_h] - lo
    w_reg = w_all[~is_h] if weighted else None
    order = np.argsort(dstoff, kind="stable")
    src = src[order]
    dstoff = dstoff[order]
    if weighted:
        w_reg = w_reg[order]
    counts = np.bincount(dstoff, minlength=hi - lo)
    offsets = np.concatenate([[0], np.cumsum(counts)]).astype(np.int64)
    # src-sorted view of the same edges (mover-extension index)
    order2 = np.argsort(src, kind="stable")
    src_by_src = src[order2]
    dstloc = dstoff[order2].astype(np.int32)
    usrc, ucnt = np.unique(src_by_src, return_counts=True)
    uoff = np.concatenate([[0], np.cumsum(ucnt)]).astype(np.int64)
    if src.size and src.max() < 2**31:
        src = src.astype(np.int32)
    # hub rows → hub-block CSR over the full hub list (col order)
    hsrc = src_all[is_h]
    hcol = hub_col[is_h] if hub_ids.size else np.empty(0, np.int64)
    w_hub = w_all[is_h] if weighted else None
    horder = np.argsort(hcol, kind="stable")
    hsrc = hsrc[horder]
    hcol = hcol[horder]
    if weighted:
        w_hub = w_hub[horder]
    hcounts = np.bincount(hcol, minlength=hub_ids.size)
    hoffsets = np.concatenate([[0], np.cumsum(hcounts)]).astype(np.int64)
    # src-sorted view of the hub edges
    horder2 = np.argsort(hsrc, kind="stable")
    hsrc_by_src = hsrc[horder2]
    hubcol = hcol[horder2].astype(np.int32)
    husrc, hucnt = np.unique(hsrc_by_src, return_counts=True)
    huoff = np.concatenate([[0], np.cumsum(hucnt)]).astype(np.int64)
    if hsrc.size and hsrc.max() < 2**31:
        hsrc = hsrc.astype(np.int32)
    return {
        "s": int(s), "lo": int(lo), "hi": int(hi),
        "src": src, "offsets": offsets,
        "usrc": usrc.astype(np.int64), "uoff": uoff, "dstloc": dstloc,
        "hsrc": hsrc, "hoff": hoffsets,
        "husrc": husrc.astype(np.int64), "huoff": huoff, "hubcol": hubcol,
        "w_reg": w_reg if weighted else None,
        "w_hub": w_hub if weighted else None,
    }


def _stripe_edges(raw: dict, hub_ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of _pack_stripe_raw for an unweighted record: the stripe's
    (src, dst) int64 edge arrays — regular dst from the CSR counts, hub dst
    from the hub-block counts over the full hub list."""
    lo, hi = int(raw["lo"]), int(raw["hi"])
    counts = raw["offsets"][1:] - raw["offsets"][:-1]
    src = raw["src"].astype(np.int64)
    dst = lo + np.repeat(np.arange(hi - lo, dtype=np.int64), counts)
    if hub_ids.size:
        hcnt = raw["hoff"][1:] - raw["hoff"][:-1]
        src = np.concatenate([src, raw["hsrc"].astype(np.int64)])
        dst = np.concatenate([dst, np.repeat(hub_ids, hcnt)])
    return src, dst


def _raw_to_row(raw: dict) -> dict:
    """Raw stripe record → blob row (PACK_SCHEMA) for the row-stream path
    (TCP loop, weighted snapshots, direct bsp_pack callers)."""
    w_reg, w_hub = raw["w_reg"], raw["w_hub"]
    return {
        "stripe": raw["s"], "lo": raw["lo"], "hi": raw["hi"],
        "src_bin": raw["src"].tobytes(),
        "src32": raw["src"].dtype == np.int32,
        "offsets_bin": raw["offsets"].tobytes(),
        "usrc_bin": raw["usrc"].tobytes(),
        "uoff_bin": raw["uoff"].tobytes(),
        "dstloc_bin": raw["dstloc"].tobytes(),
        "hub_src_bin": raw["hsrc"].tobytes(),
        "hub_src32": raw["hsrc"].dtype == np.int32,
        "hub_offsets_bin": raw["hoff"].tobytes(),
        "husrc_bin": raw["husrc"].tobytes(),
        "huoff_bin": raw["huoff"].tobytes(),
        "hubcol_bin": raw["hubcol"].tobytes(),
        "w_bin": w_reg.tobytes() if w_reg is not None else b"",
        "hub_w_bin": w_hub.tobytes() if w_hub is not None else b"",
    }


def _stub_pack_row(raw: dict) -> dict:
    """Minimal valid PACK_SCHEMA row (stripe identity only) emitted when the
    stripe's arrays went to the spill instead — keeps the packed DataFrame
    shape (one row per stripe) without shipping ~|E| bytes through Arrow."""
    return {
        "stripe": raw["s"], "lo": raw["lo"], "hi": raw["hi"],
        "src_bin": b"", "src32": True, "offsets_bin": b"",
        "usrc_bin": b"", "uoff_bin": b"", "dstloc_bin": b"",
        "hub_src_bin": b"", "hub_src32": True, "hub_offsets_bin": b"",
        "husrc_bin": b"", "huoff_bin": b"", "hubcol_bin": b"",
        "w_bin": b"", "hub_w_bin": b"",
    }


def _spill_write(spill_dir: str, raw: dict) -> None:
    """Atomically persist one raw stripe record to the snapshot's spill
    (tmp + rename: barrier/pack task retries overwrite, never interleave)."""
    os.makedirs(spill_dir, exist_ok=True)
    path = os.path.join(spill_dir, f"s{raw['s']}.pkl")
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "wb") as f:
        pickle.dump(raw, f, protocol=pickle.HIGHEST_PROTOCOL)
    os.replace(tmp, path)


def _spill_read(spill_dir: str, s: int) -> dict:
    """The raw record of stripe s from a spill written by _spill_write."""
    with open(os.path.join(spill_dir, f"s{s}.pkl"), "rb") as f:
        return pickle.load(f)


def row_to_raw(row, n_hubs: int, weighted: bool) -> dict:
    """Inverse of _raw_to_row: a PACK_SCHEMA blob row -> raw stripe record.
    An empty stub row (_stub_pack_row) decodes to an edgeless stripe."""
    lo, hi = int(row["lo"]), int(row["hi"])
    src_t = np.int32 if row["src32"] else np.int64

    def blob(col, dtype=np.int64):
        return np.frombuffer(row[col], dtype=dtype)

    def offs(col, size=1):  # a stub row ships no offsets
        o = blob(col)
        return o if o.size else np.zeros(size, np.int64)

    return {
        "s": int(row["stripe"]), "lo": lo, "hi": hi,
        "src": blob("src_bin", src_t), "offsets": offs("offsets_bin", hi - lo + 1),
        "usrc": blob("usrc_bin"), "uoff": offs("uoff_bin"),
        "dstloc": blob("dstloc_bin", np.int32),
        "hsrc": blob("hub_src_bin", np.int32 if row["hub_src32"] else np.int64),
        "hoff": offs("hub_offsets_bin", n_hubs + 1),
        "husrc": blob("husrc_bin"), "huoff": offs("huoff_bin"),
        "hubcol": blob("hubcol_bin", np.int32),
        "w_reg": blob("w_bin", np.float64) if weighted else None,
        "w_hub": blob("hub_w_bin", np.float64) if weighted else None,
    }


def _row_index(offsets: np.ndarray):
    """(counts, ridx, empty) of a CSR: per-row edge counts, the start of
    every NON-empty row, and the empty-row mask."""
    counts = np.diff(offsets)
    empty = counts == 0
    return counts, offsets[:-1][~empty], empty


def prepare_stripe(raw: dict, hub_ids: np.ndarray, prune: bool = False) -> dict:
    """A raw record plus what the gathers and mover walks read: the row
    index of the regular CSR (counts/ridx/empty) and of the hub block
    (hcounts/hridx/hempty); with prune, the self-loop masks over both
    src-sorted views (DF-P's expansion skips self-loops); the hub columns
    homed in this stripe (own_cols) and their row offsets (own_offs)."""
    st = dict(raw)
    lo, hi = raw["lo"], raw["hi"]
    st["counts"], st["ridx"], st["empty"] = _row_index(raw["offsets"])
    st["hcounts"], st["hridx"], st["hempty"] = _row_index(raw["hoff"])
    st["self_srcord"] = st["hself_srcord"] = None
    if prune:
        src_exp = np.repeat(raw["usrc"], np.diff(raw["uoff"]))
        st["self_srcord"] = src_exp == raw["dstloc"].astype(np.int64) + lo
        hsrc_exp = np.repeat(raw["husrc"], np.diff(raw["huoff"]))
        st["hself_srcord"] = hsrc_exp == hub_ids[raw["hubcol"]]
    st["own_cols"] = np.flatnonzero((hub_ids >= lo) & (hub_ids < hi))
    st["own_offs"] = hub_ids[st["own_cols"]] - lo
    return st


def ragged_take(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Vectorized concatenation of ranges [starts[i], starts[i]+lens[i]).
    starts/lens must have lens > 0."""
    tot = int(lens.sum())
    out = np.ones(tot, dtype=np.int64)
    out[0] = starts[0]
    pos = np.cumsum(lens)[:-1]
    out[pos] = starts[1:] - (starts[:-1] + lens[:-1] - 1)
    return np.cumsum(out)


def csr_lookup(keys: np.ndarray, ukeys: np.ndarray, uoff: np.ndarray) -> np.ndarray:
    """Positions (into the src-sorted edge array) of all edges whose src is
    in keys; keys and ukeys sorted.  Returns int64 edge indices."""
    if keys.size == 0 or ukeys.size == 0:
        return np.empty(0, np.int64)
    pos = np.searchsorted(ukeys, keys)
    pos = np.minimum(pos, ukeys.size - 1)
    ok = ukeys[pos] == keys
    if not ok.any():
        return np.empty(0, np.int64)
    hit = pos[ok]
    starts = uoff[hit]
    return ragged_take(starts, uoff[hit + 1] - starts)


def mover_edges(usrc, uoff, self_srcord, n_movers: int, bitmap, ids) -> np.ndarray:
    """Positions (into a src-sorted edge array, usrc/uoff its CSR) of the
    edges whose src moved, given the movers both as a bitmap over all
    vertices and as ids() (a callable, so the sorted id list is built only
    when walked).  A dense frontier (n_movers · MOVER_BITMAP_FACTOR >
    |usrc|) gathers the bitmap over usrc in O(|usrc|); a sparse one walks
    the id list in O(|M|·log|usrc|).  Both give the same positions in the
    same order.  With self_srcord (DF-P) self-loops are dropped."""
    if n_movers * MOVER_BITMAP_FACTOR > usrc.size:
        hit = np.flatnonzero(bitmap[usrc])
        if not hit.size:
            return np.empty(0, np.int64)
        eidx = ragged_take(uoff[hit], uoff[hit + 1] - uoff[hit])
    else:
        eidx = csr_lookup(ids(), usrc, uoff)
    return eidx if self_srcord is None else eidx[~self_srcord[eidx]]


def _reduce_rows(vals: np.ndarray, ridx: np.ndarray, empty: np.ndarray) -> np.ndarray:
    """Per-row sums of vals over a CSR, 0 for empty rows.  Only non-empty
    rows are reduced: np.add.reduceat over starts clipped into range would
    cut the last edge off the last non-empty row before trailing empty
    rows."""
    if not empty.any():
        return np.add.reduceat(vals, ridx)
    out = np.zeros(empty.size)
    if ridx.size:
        out[~empty] = np.add.reduceat(vals, ridx)
    return out


def _slice_sums(rdiv, src, starts, lens) -> np.ndarray:
    """Σ rdiv[src[e]] over each CSR slice [starts[i], starts[i] + lens[i]),
    0 for an empty slice."""
    out = np.zeros(lens.size)
    nz = lens > 0
    if nz.any():
        eidx = ragged_take(starts[nz], lens[nz])
        loc = np.concatenate([[0], np.cumsum(lens[nz])[:-1]]).astype(np.int64)
        out[nz] = np.add.reduceat(rdiv[src[eidx]], loc)
    return out


def full_gather(st: dict, rdiv: np.ndarray) -> np.ndarray:
    """Pull sums Σ w_uv·rdiv[u] of every row of a stripe's regular CSR,
    reduced in row order."""
    vals = rdiv[st["src"]]
    if st["w_reg"] is not None:
        vals = vals * st["w_reg"]
    return _reduce_rows(vals, st["ridx"], st["empty"])


def affected_gather(st: dict, rdiv: np.ndarray, A: np.ndarray) -> np.ndarray:
    """Pull sums of the rows A (sorted local offsets) of an unweighted
    stripe: a ragged gather of their CSR slices, or the full-stripe gather
    when they hold 60 % or more of the stripe's edges."""
    lens = st["counts"][A]
    tot = int(lens.sum())
    if tot and tot >= 0.6 * st["src"].size:
        return full_gather(st, rdiv)[A]
    return _slice_sums(rdiv, st["src"], st["offsets"][A], lens)


def hub_partials(st: dict, rdiv: np.ndarray, needed: np.ndarray | None = None):
    """A stripe's salted partial sums per hub column, as (cols, part): over
    every column (cols = slice(None)) when needed is None or the needed
    columns hold 60 % or more of its hub edges, else over the needed
    columns only (cols = needed; unweighted)."""
    hsrc, hcounts = st["hsrc"], st["hcounts"]
    if needed is None or int(hcounts[needed].sum()) >= 0.6 * hsrc.size:
        vals = rdiv[hsrc]
        if st["w_hub"] is not None:
            vals = vals * st["w_hub"]
        return slice(None), _reduce_rows(vals, st["hridx"], st["hempty"])
    return needed, _slice_sums(rdiv, hsrc, st["hoff"][needed], hcounts[needed])


def rank_update(
    sums, r_old, deg, c0: float, damping: float, corrected: bool = False, rel: bool = False
):
    """The pull update of a set of rows from their gathered sums:
    a = c0 + damping·sums, or DF-P's self-loop-corrected
    a = (c0 + damping·(sums − r_old/deg)) / (1 − damping/deg) (deg: the
    rows' out-degrees, read only when corrected).  Returns (a, el, rel):
    el = max |r_old − a| (0 for no rows) and, when asked, the per-row
    relative change rel = |r_old − a| / max(r_old, a) (else None)."""
    if corrected:
        a = (c0 + damping * (sums - r_old / deg)) / (1.0 - damping / deg)
    else:
        a = c0 + damping * sums
    eu = np.abs(r_old - a)
    el = float(eu.max()) if eu.size else 0.0
    if rel:
        return a, el, eu / np.maximum(np.maximum(r_old, a), 1e-300)
    return a, el, None


def stripe_of(
    src: np.ndarray, dst: np.ndarray, interior: np.ndarray, hubs: np.ndarray, n_stripes: int
) -> np.ndarray:
    """Stripe of each edge: the stripe whose dst range holds dst (interior:
    the stripe bounds without 0 and n), or src mod n_stripes (the salt)
    when dst is a salted hub."""
    stripe = np.searchsorted(interior, dst, side="right")
    if hubs.size:
        pos = np.searchsorted(hubs, dst)
        is_h = (pos < hubs.size) & (hubs[np.minimum(pos, hubs.size - 1)] == dst)
        stripe = np.where(is_h, src % n_stripes, stripe)
    return stripe


def mm_create(wd: str, name: str, shape, dtype, init=None) -> np.ndarray:
    """Create the .npy memmap wd/name (zero-filled, or set to init)."""
    arr = np.lib.format.open_memmap(
        os.path.join(wd, name), mode="w+", dtype=dtype, shape=shape
    )
    if init is not None:
        arr[:] = init
    arr.flush()
    return arr


def mm_open(wd: str, name: str, mode: str = "r+") -> np.ndarray:
    """Map the .npy memmap wd/name created by mm_create."""
    return np.load(os.path.join(wd, name), mmap_mode=mode)


def spin(flags: np.ndarray, row: int, deadline: float) -> None:
    """Wait until every column of flags[row] is set: a ~0.5 ms hot window
    (sub-µs sync when peers are close, the common case for short
    supersteps), then 0.2 ms sleeps so laggard tasks keep the cores.
    Raises TimeoutError past deadline (time.time() seconds)."""
    n = 0
    while not flags[row, :].all():
        n += 1
        if n > 300:
            if time.time() > deadline:
                raise TimeoutError(f"BSP flag sync timeout at row {row}")
            time.sleep(0.0002)
