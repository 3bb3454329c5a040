"""Stripe-record packing helpers shared by the BSP pack, the stripe spill,
and the delta-pack — kept in their own module so it can be registered for
BY-VALUE cloudpickle serialization (pagerank_bsp does so at import).

Why: Spark Python workers do not inherit the driver's runtime sys.path
edits, so a worker-executed closure that references a module-level function
of this package by REFERENCE dies with ModuleNotFoundError whenever the
driver added the repo to sys.path at runtime (spark-submit from another
cwd, the driver harness, notebooks).  By-value registration makes
cloudpickle ship these functions' code with the closure instead.

The stripe record layout is THE single source of truth for the BSP CSR:
array dtypes carry the int32/int64 choice, so a record is self-describing
whether it travels as a blob row (PACK_SCHEMA) or a spill file.
"""

from __future__ import annotations

import os

import numpy as np


def _pack_stripe_raw(
    s: int,
    lo: int,
    hi: int,
    src_all: np.ndarray,
    dst_all: np.ndarray,
    w_all: np.ndarray | None,
    hub_ids: np.ndarray,
    block_width: int,
    weighted: bool,
) -> dict:
    """Pack ONE stripe's edges into the raw CSR arrays: contiguous dst-CSR
    for regular rows, hub-block CSR over the full hub list for salted hub
    rows, src-sorted views of both (mover-extension indexes), and the
    optional cache-blocked gather order (csr.hxx:107–286 analog)."""
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
    # cache-blocked gather order: (src block, dst), run boundaries at every
    # (block, dst) change — see bsp_pack's docstring for the layout note
    if src.size and not weighted and block_width > 0:
        blk = src // block_width
        order3 = np.lexsort((dstoff, blk))
        src_blk = src[order3]
        dst3 = dstoff[order3].astype(np.int32)
        blk3 = blk[order3]
        change = np.empty(src.size, dtype=bool)
        change[0] = True
        change[1:] = (dst3[1:] != dst3[:-1]) | (blk3[1:] != blk3[:-1])
        run_off = np.flatnonzero(change).astype(np.int64)
        run_dst = dst3[run_off]
        run_blk = blk3[run_off]
        bchange = np.empty(run_off.size, dtype=bool)
        bchange[0] = True
        bchange[1:] = run_blk[1:] != run_blk[:-1]
        rb_off = np.append(np.flatnonzero(bchange), run_off.size).astype(np.int64)
    else:
        src_blk = np.empty(0, np.int64)
        run_off = np.empty(0, np.int64)
        run_dst = np.empty(0, np.int32)
        rb_off = np.empty(0, np.int64)
    if src.size and src.max() < 2**31:
        src = src.astype(np.int32)
        src_blk = src_blk.astype(np.int32)
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
        "srcb": src_blk, "run_off": run_off,
        "run_dst": run_dst, "rb_off": rb_off,
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
        "srcb_bin": raw["srcb"].tobytes(),
        "runoff_bin": raw["run_off"].tobytes(),
        "rundst_bin": raw["run_dst"].tobytes(),
        "rboff_bin": raw["rb_off"].tobytes(),
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
        "srcb_bin": b"", "runoff_bin": b"", "rundst_bin": b"", "rboff_bin": b"",
    }


def _spill_write(spill_dir: str, raw: dict) -> None:
    """Atomically persist one raw stripe record to the snapshot's spill
    (tmp + rename: barrier/pack task retries overwrite, never interleave)."""
    import pickle

    os.makedirs(spill_dir, exist_ok=True)
    path = os.path.join(spill_dir, f"s{raw['s']}.pkl")
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "wb") as f:
        pickle.dump(raw, f, protocol=pickle.HIGHEST_PROTOCOL)
    os.replace(tmp, path)
