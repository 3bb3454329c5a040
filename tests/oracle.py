"""NumPy reference oracle — transliterations of the reference's sync pull
iteration (pagerank.hxx:132–141 update, 387–394 loop) and of its dynamic
superstep rules (pagerankCuda.hxx:676–692, pagerankPrune.hxx:30–67), plus
the min-label and label-propagation rounds of its community helpers
(properties.hxx:379–401).  Ground truth for every Spark PageRank and
CC/LPA test (main.cu:88 oracle pattern).  NumPy only: nothing here shares
code with the engine it checks."""

from __future__ import annotations

import numpy as np


def pagerank_numpy(
    n: int,
    src: np.ndarray,
    dst: np.ndarray,
    damping: float = 0.85,
    tolerance: float = 1e-10,
    max_iterations: int = 500,
    q: np.ndarray | None = None,
    dangling: str = "selfloop",
    w: np.ndarray | None = None,
) -> tuple[np.ndarray, int]:
    """edges (src,dst) must already be deduped; in selfloop mode they must
    already include a self-loop on every vertex (main.cu:169).  With
    weights w: a[v] = C0 + P·Σ w_uv·r[u]/wdeg(u), wdeg(u) = Σ_out w (use
    dangling="redistribute"; duplicate edges then add their weights)."""
    src = np.asarray(src, dtype=np.int64)
    dst = np.asarray(dst, dtype=np.int64)
    outdeg = np.bincount(src, weights=w, minlength=n).astype(np.float64)
    safe = np.where(outdeg > 0, outdeg, 1.0)
    r = np.full(n, 1.0 / n) if q is None else np.asarray(q, dtype=np.float64).copy()
    C0 = (1.0 - damping) / n
    it = 0
    while it < max_iterations:
        share = r[src] / safe[src] if w is None else w * r[src] / safe[src]
        contrib = np.bincount(dst, weights=share, minlength=n)
        a = C0 + damping * contrib
        if dangling == "redistribute":
            a += damping * r[outdeg == 0].sum() / n
        el = np.abs(a - r).max()
        r = a
        it += 1
        if el < tolerance:
            break
    return r, it


def pagerank_frontier_numpy(
    n: int,
    src: np.ndarray,
    dst: np.ndarray,
    q: np.ndarray,
    vaff0: np.ndarray,
    expand: bool = False,
    prune: bool = False,
    corrected: bool = False,
    damping: float = 0.85,
    tolerance: float = 1e-10,
    frontier_tolerance: float = 1e-6,
    prune_tolerance: float = 1e-6,
    max_iterations: int = 500,
) -> tuple[np.ndarray, int]:
    """Dynamic supersteps from the marks vaff0 over the NEW self-looped
    graph (src, dst): DT is expand=False, DF expand=True, DF-P
    expand=prune=corrected=True.  Per superstep:
      * two-phase expansion: the previous superstep's movers mark their
        out-neighbours (pagerankCuda.hxx:681–687); DF-P skips u→u;
      * affected vertices update (the corrected update for DF-P,
        pagerankPrune.hxx:30–41); unaffected ones carry their rank;
      * movers are updated vertices whose relative change exceeds
        frontier_tolerance; DF-P unmarks those at ≤ prune_tolerance;
      * stop when the L∞ change over the updated set is below tolerance."""
    src = np.asarray(src, dtype=np.int64)
    dst = np.asarray(dst, dtype=np.int64)
    outdeg = np.bincount(src, minlength=n).astype(np.float64)
    safe = np.maximum(outdeg, 1.0)
    C0 = (1.0 - damping) / n
    r = np.asarray(q, dtype=np.float64).copy()
    vaff = np.asarray(vaff0, dtype=bool).copy()
    movers = np.zeros(n, dtype=bool)
    it = 0
    while it < max_iterations:
        if expand:
            m = movers[src] & (src != dst) if prune else movers[src]
            vaff[dst[m]] = True
        contrib = np.bincount(dst, weights=r[src] / safe[src], minlength=n)
        upd = np.flatnonzero(vaff)
        a = r.copy()
        if corrected:
            d = outdeg[upd]
            a[upd] = (C0 + damping * (contrib[upd] - r[upd] / d)) / (1.0 - damping / d)
        else:
            a[upd] = C0 + damping * contrib[upd]
        eu = np.abs(a[upd] - r[upd])
        rel = eu / np.maximum(np.maximum(r[upd], a[upd]), 1e-300)
        if expand:
            movers = np.zeros(n, dtype=bool)
            movers[upd[rel > frontier_tolerance]] = True
        if prune:
            vaff[upd[rel <= prune_tolerance]] = False
        el = eu.max() if upd.size else 0.0
        r = a
        it += 1
        if el < tolerance:
            break
    return r, it


def frontier_marks_numpy(n, old_src, old_dst, new_src, new_dst, del_src, ins_src):
    """DF initial marks (pagerank.hxx:645–652): old-graph out-neighbours of
    deletion sources ∪ new-graph out-neighbours of insertion sources."""
    vaff = np.zeros(n, dtype=bool)
    vaff[np.asarray(old_dst)[np.isin(old_src, del_src)]] = True
    vaff[np.asarray(new_dst)[np.isin(new_src, ins_src)]] = True
    return vaff


def traversal_marks_numpy(n, old_src, old_dst, new_src, new_dst, del_src, ins_src):
    """DT marks (pagerank.hxx:543–578): everything reachable in the NEW
    graph from the DF initial marks."""
    vaff = frontier_marks_numpy(n, old_src, old_dst, new_src, new_dst, del_src, ins_src)
    new_src = np.asarray(new_src)
    new_dst = np.asarray(new_dst)
    while True:
        reach = vaff.copy()
        reach[new_dst[vaff[new_src]]] = True
        if (reach == vaff).all():
            return vaff
        vaff = reach


def add_self_loops_np(n: int, src: np.ndarray, dst: np.ndarray):
    """Universal self-loops + dedup, matching operators.graph.add_self_loops."""
    s = np.concatenate([np.asarray(src, np.int64), np.arange(n, dtype=np.int64)])
    d = np.concatenate([np.asarray(dst, np.int64), np.arange(n, dtype=np.int64)])
    pairs = np.unique(np.stack([s, d], axis=1), axis=0)
    return pairs[:, 0], pairs[:, 1]


def _undirected_numpy(n: int, src, dst):
    """Both directions of every edge, deduplicated, self-loops kept; returned
    as (dst, src) sorted by dst."""
    src = np.asarray(src, dtype=np.int64)
    dst = np.asarray(dst, dtype=np.int64)
    key = np.unique(np.concatenate([dst * n + src, src * n + dst]))
    return key // n, key % n


def components_numpy(n: int, src, dst, max_rounds: int | None = None) -> np.ndarray:
    """Synchronous min-label rounds over the undirected graph: every vertex
    takes the min of its own label and its neighbours' labels.  At the
    fixpoint a vertex's label is the min vertex id of its component; a
    vertex with no edges keeps its own id.  Stops at the fixpoint or after
    max_rounds rounds."""
    d, s = _undirected_numpy(n, src, dst)
    lab = np.arange(n, dtype=np.int64)
    # a label travels one hop a round, so n rounds always reach the fixpoint
    for _ in range(n if max_rounds is None else max_rounds):
        new = lab.copy()
        np.minimum.at(new, d, lab[s])
        if np.array_equal(new, lab):
            break
        lab = new
    return lab


def label_propagation_numpy(n: int, src, dst, max_rounds: int = 20) -> np.ndarray:
    """Synchronous label propagation over the undirected graph: every vertex
    with a neighbour takes the most frequent neighbour label, a tie going to
    the smallest label; a vertex with no edges keeps its own id.  Stops at
    the fixpoint or after max_rounds rounds."""
    d, s = _undirected_numpy(n, src, dst)
    lab = np.arange(n, dtype=np.int64)
    for _ in range(max_rounds):
        key, count = np.unique(d * n + lab[s], return_counts=True)
        v, cand = key // n, key % n
        order = np.lexsort((cand, -count, v))  # by v, then count desc, label asc
        v, cand = v[order], cand[order]
        first = np.ones(v.size, dtype=bool)
        first[1:] = v[1:] != v[:-1]
        new = lab.copy()
        new[v[first]] = cand[first]
        if np.array_equal(new, lab):
            break
        lab = new
    return lab
