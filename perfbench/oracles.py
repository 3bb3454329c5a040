"""Independent NumPy oracles for every result the benchmark checks.

Nothing here imports the package under test: each function recomputes a
result from plain edge arrays with its own algorithm, so a bug shared by
the engine's kernels cannot also hide in the check.
"""

from __future__ import annotations

import numpy as np


def edge_keys(src: np.ndarray, dst: np.ndarray, n: int) -> np.ndarray:
    """Sorted unique int64 keys src*n+dst of the non-loop edges."""
    src = np.asarray(src, dtype=np.int64)
    dst = np.asarray(dst, dtype=np.int64)
    keep = src != dst
    return np.unique(src[keep] * n + dst[keep])


def in_sorted(keys: np.ndarray, probe: np.ndarray) -> np.ndarray:
    """Membership of each probe key in the sorted array `keys`."""
    if keys.size == 0:
        return np.zeros(probe.shape, dtype=bool)
    pos = np.searchsorted(keys, probe)
    pos[pos == keys.size] = 0
    return keys[pos] == probe


def pagerank(
    keys: np.ndarray,
    n: int,
    q: np.ndarray | None = None,
    alpha: float = 0.85,
    tol: float = 1e-10,
    max_iter: int = 1000,
) -> np.ndarray:
    """Synchronous pull power iteration on the non-loop edge keys plus a
    self-loop on every vertex, to L-inf change < tol.  q warm-starts it;
    the fixpoint does not depend on the start."""
    src, dst = keys // n, keys % n
    outdeg = np.bincount(src, minlength=n).astype(np.float64) + 1.0
    r = np.full(n, 1.0 / n) if q is None else np.array(q, dtype=np.float64)
    base = (1.0 - alpha) / n
    for _ in range(max_iter):
        c = r / outdeg
        new = base + alpha * (np.bincount(dst, weights=c[src], minlength=n) + c)
        if np.abs(new - r).max() < tol:
            return new
        r = new
    raise RuntimeError("oracle PageRank did not converge")


def _undirected(src: np.ndarray, dst: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Both directions of every distinct non-loop edge, as (u, v) arrays."""
    keys = np.unique(np.concatenate([edge_keys(src, dst, n), edge_keys(dst, src, n)]))
    return keys // n, keys % n


def components(src: np.ndarray, dst: np.ndarray, n: int) -> np.ndarray:
    """Min-label connected components: every vertex ends with the smallest
    vertex id of its undirected component."""
    u, v = _undirected(src, dst, n)
    lab = np.arange(n, dtype=np.int64)
    while True:
        new = lab.copy()
        np.minimum.at(new, v, lab[u])
        if np.array_equal(new, lab):
            return lab
        lab = new


def transcript_edges(turns) -> set[tuple[str, str]]:
    """Entity edge set of a transcript table (pandas frame with conv_id,
    turn_idx, role, tool): turn adjacency, tool calls, role participation
    and conversation roots, built row by row."""
    out: set[tuple[str, str]] = set()
    rows = sorted(
        zip(turns["conv_id"], turns["turn_idx"], turns["role"], turns["tool"])
    )
    for k, (conv, idx, role, tool) in enumerate(rows):
        turn = f"turn:{conv}:{idx}"
        if k + 1 < len(rows) and rows[k + 1][0] == conv:
            out.add((turn, f"turn:{conv}:{rows[k + 1][1]}"))
        if tool is not None and tool == tool:  # NaN-safe null test
            out.add((turn, f"tool:{tool}"))
        out.add((turn, f"role:{role}"))
        if idx == 0:
            out.add((f"conv:{conv}", turn))
    return out
