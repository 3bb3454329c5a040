"""CC / LPA / triangle / modularity correctness on golden micro-graphs."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pagerank_cuda_dynamic_spark.operators.components import (
    connected_components_joinagg,
    modularity,
    triangle_count,
)
from pagerank_cuda_dynamic_spark.operators.components_bsp import (
    connected_components_bsp,
    label_propagation_bsp,
)

from .conftest import MICRO_GRAPHS, edges_df
from .oracle import components_numpy, label_propagation_numpy


def test_cc_two_islands(spark):
    n, src, dst = MICRO_GRAPHS["two_islands"]
    comp = connected_components_bsp(edges_df(spark, src, dst), n)
    assert comp.tolist() == [0, 0, 0, 3, 3, 3]


def test_cc_line(spark):
    n, src, dst = MICRO_GRAPHS["line5"]
    comp = connected_components_bsp(edges_df(spark, src, dst), n)
    assert comp.tolist() == [0] * 5


def test_cc_isolated_vertex(spark):
    # vertex 3 isolated (n=4, edges only among 0-2)
    comp = connected_components_bsp(edges_df(spark, [0, 1], [1, 2]), 4)
    assert comp.tolist() == [0, 0, 0, 3]


def test_cc_oracle_random(spark):
    rng = np.random.default_rng(11)
    n, m = 60, 80
    src = rng.integers(0, n, m)
    dst = rng.integers(0, n, m)
    comp = connected_components_bsp(edges_df(spark, src, dst), n)
    # union-find oracle
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in zip(src, dst):
        a, b = find(int(s)), find(int(d))
        if a != b:
            parent[max(a, b)] = min(a, b)
    want = np.array([find(v) for v in range(n)])
    # normalize both to min-id representative per component
    rep = {}
    for v in range(n):
        rep.setdefault(want[v], v)
    want_min = np.array([rep[want[v]] for v in range(n)])
    assert comp.tolist() == want_min.tolist()


def test_triangles(spark):
    # two triangles sharing edge (0,1): {0,1,2} and {0,1,3}
    e = edges_df(spark, [0, 1, 2, 0, 1, 3], [1, 2, 0, 3, 3, 0])
    got = triangle_count(e).collect()[0]["n_triangles"]
    assert got == 2


def test_triangles_none(spark):
    n, src, dst = MICRO_GRAPHS["line5"]
    got = triangle_count(edges_df(spark, src, dst)).collect()[0]["n_triangles"]
    assert got == 0


def test_triangles_methods_agree(spark):
    # arrays (successor-set intersection) vs wedges (generate + semi-join
    # close) on a random multigraph with self-loops and both directions
    rng = np.random.default_rng(23)
    n, m = 40, 300
    src = rng.integers(0, n, m)
    dst = rng.integers(0, n, m)
    e = edges_df(spark, src, dst)
    a = triangle_count(e, method="arrays").collect()[0]["n_triangles"]
    w = triangle_count(e, method="wedges").collect()[0]["n_triangles"]
    # brute-force oracle
    und = {(int(a_), int(b_)) for a_, b_ in zip(src, dst) if a_ != b_}
    und |= {(b_, a_) for a_, b_ in und}
    adj = {}
    for x, y in und:
        adj.setdefault(x, set()).add(y)
    want = (
        sum(
            len(adj[x] & adj[y])
            for x in adj
            for y in adj[x]
            if x < y
        )
        // 3
    )
    assert a == w == want


def test_lpa_two_cliques(spark):
    # two 4-cliques joined by one edge → LPA should find 2 communities
    import itertools

    cl1 = list(itertools.permutations(range(4), 2))
    cl2 = list(itertools.permutations(range(4, 8), 2))
    src = [a for a, b in cl1 + cl2] + [3]
    dst = [b for a, b in cl1 + cl2] + [4]
    labels = label_propagation_bsp(edges_df(spark, src, dst), 8)
    assert labels.tolist() == [0] * 4 + [4] * 4


def test_modularity_perfect_split(spark):
    # two disconnected triangles, membership = component → Q = 0.5
    src = [0, 1, 2, 3, 4, 5]
    dst = [1, 2, 0, 4, 5, 3]
    e = edges_df(spark, src, dst)
    memb = spark.createDataFrame(
        pd.DataFrame({"v": range(6), "community": [0, 0, 0, 1, 1, 1]})
    )
    q = modularity(e, memb).collect()[0]["modularity"]
    assert abs(q - 0.5) < 1e-9


def test_cc_bsp_matches(spark):
    rng = np.random.default_rng(43)
    n = 300
    src = rng.integers(0, n, 350)
    dst = rng.integers(0, n, 350)
    got = connected_components_bsp(edges_df(spark, src, dst), n)
    assert got.tolist() == components_numpy(n, src, dst).tolist()


def test_lpa_bsp_matches(spark):
    rng = np.random.default_rng(47)
    n = 120
    src = rng.integers(0, n, 500)
    dst = rng.integers(0, n, 500)
    got = label_propagation_bsp(edges_df(spark, src, dst), n, max_rounds=10)
    assert got.tolist() == label_propagation_numpy(n, src, dst, max_rounds=10).tolist()


def _shuffled_paths(n: int, seed: int):
    """Two paths through all n vertices whose ids are not sorted along the
    path: visiting a random permutation in order, and its inverse.  On the
    inverse with n = 200, seed 5, a hook+jump CC needs 128 rounds, not
    O(log n).  Min-label needs up to n - 1 rounds on either."""
    perm = np.random.default_rng(seed).permutation(n)
    return [(p[:-1], p[1:]) for p in (perm, np.argsort(perm))]


def test_cc_bsp_shuffled_path(spark):
    n = 200
    for src, dst in _shuffled_paths(n, 5):
        got = connected_components_bsp(edges_df(spark, src, dst), n)
        assert got.tolist() == [0] * n
        assert got.tolist() == components_numpy(n, src, dst).tolist()


def test_cc_bsp_long_chain_matches_oracle(spark):
    """A 1024-hop chain (1023 min-label rounds), a 3-cycle island and an
    isolated vertex."""
    L = 1024
    src = list(range(L - 1)) + [L, L + 1, L + 2]
    dst = list(range(1, L)) + [L + 1, L + 2, L]
    n = L + 4
    comp = connected_components_bsp(edges_df(spark, src, dst), n)
    assert (comp[:L] == 0).all()
    assert (comp[L: L + 3] == L).all()
    assert comp[L + 3] == L + 3
    assert comp.tolist() == components_numpy(n, src, dst).tolist()


def test_cc_joinagg_shuffled_path(spark):
    """joinagg runs one round of Spark jobs per hop, so the path is short."""
    n = 24
    src, dst = _shuffled_paths(n, 5)[1]
    got = connected_components_joinagg(edges_df(spark, src, dst), n).toPandas()
    got = got.sort_values("v")["component"].tolist()
    assert got == [0] * n
    assert got == components_numpy(n, src, dst).tolist()


def test_cc_joinagg_needs_n_or_vertices(spark):
    with pytest.raises(ValueError, match="n or vertices"):
        connected_components_joinagg(edges_df(spark, [0], [1]))


@pytest.fixture(scope="module")
def synthesized_graph(spark):
    """The CLI's --synthesize 30 input, dictionary-encoded: (entity by dense
    id, src, dst)."""
    from pagerank_cuda_dynamic_spark.plans.dictionary import (
        build_vertex_dictionary,
        encode_edges,
    )
    from pagerank_cuda_dynamic_spark.sources.edges import derive_edges_from_transcripts
    from pagerank_cuda_dynamic_spark.sources.transcripts import synthesize_transcripts

    ent = derive_edges_from_transcripts(synthesize_transcripts(spark, 30, seed=42))
    d = build_vertex_dictionary(ent)
    enc = encode_edges(ent, d).toPandas()
    entity = d.toPandas().sort_values("v")["entity"].to_numpy()
    return entity, enc["src"].to_numpy(), enc["dst"].to_numpy()


@pytest.mark.parametrize(
    "algo,exchange", [("cc", "memmap"), ("lpa", "memmap"), ("cc", "tcp")]
)
def test_cli_labels_match_oracle(spark, tmp_path, synthesized_graph, algo, exchange):
    """`--algo cc|lpa` writes (entity, label) rows that map back to the NumPy
    oracle's labels over the dictionary-encoded edges."""
    from pagerank_cuda_dynamic_spark.cli import main

    out = str(tmp_path / "labels")
    argv = ["--synthesize", "30", "--algo", algo, "--exchange", exchange, "--out", out]
    assert main(argv) == 0
    entity, src, dst = synthesized_graph
    n = len(entity)
    if algo == "cc":
        val, lab = "component", components_numpy(n, src, dst)
    else:
        val, lab = "label", label_propagation_numpy(n, src, dst)
    got = {r["entity"]: r[val] for r in spark.read.parquet(out).collect()}
    assert got == dict(zip(entity, entity[lab]))


# ---------------------------------------------------------------------------
# k_truss
# ---------------------------------------------------------------------------


def _truss_oracle(pairs, k):
    """Converged brute-force k-truss: dict {(a,b): sup} with a < b."""
    E = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    while True:
        adj: dict = {}
        for a, b in E:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        sup = {e: len(adj[e[0]] & adj[e[1]]) for e in E}
        keep = {e for e in E if sup[e] >= k - 2}
        if keep == E:
            return sup
        E = keep


def _truss_got(df):
    return {(r.src, r.dst): r.sup for r in df.collect()}


def test_k_truss_k5_is_5truss_and_6truss_empty(spark):
    from pagerank_cuda_dynamic_spark.operators.components import k_truss

    pairs = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    e = edges_df(spark, [p[0] for p in pairs], [p[1] for p in pairs])
    got = _truss_got(k_truss(e, k=5, rounds=3))
    assert got == {p: 3 for p in pairs}
    assert k_truss(e, k=6, rounds=3).count() == 0


def test_k_truss_peels_pendant_triangle_off_k4(spark):
    from pagerank_cuda_dynamic_spark.operators.components import k_truss

    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    pairs = k4 + [(3, 4), (3, 5), (4, 5)]
    e = edges_df(spark, [p[0] for p in pairs], [p[1] for p in pairs])
    got = _truss_got(k_truss(e, k=4, rounds=4))
    assert got == {p: 2 for p in k4}


def test_k_truss_cascading_peel_empties_triangle_strip(spark):
    """Strip of triangles (i, i+1, i+2): round 1 peels every long edge
    (sup 1), which zeroes the path edges' support — only a second round
    removes them.  The 4-truss must cascade to EMPTY, not stop after one
    pass."""
    from pagerank_cuda_dynamic_spark.operators.components import k_truss

    pairs = [(i, i + 1) for i in range(9)] + [(i, i + 2) for i in range(8)]
    e = edges_df(spark, [p[0] for p in pairs], [p[1] for p in pairs])
    assert k_truss(e, k=4, rounds=4).count() == 0
    assert _truss_oracle(pairs, 4) == {}


def test_k_truss_oracle_random(spark):
    from pagerank_cuda_dynamic_spark.operators.components import k_truss

    rng = np.random.default_rng(7)
    src = rng.integers(0, 24, 160).tolist()
    dst = rng.integers(0, 24, 160).tolist()
    pairs = list(zip(src, dst))
    for k in (3, 4, 5):
        want = _truss_oracle(pairs, k)
        got = _truss_got(k_truss(edges_df(spark, src, dst), k=k, rounds=12))
        assert got == want, k


def test_k_truss_directed_duplicates_and_selfloops(spark):
    """Both orientations + repeats + self-loops collapse to one simple
    undirected edge set before peeling."""
    from pagerank_cuda_dynamic_spark.operators.components import k_truss

    src = [0, 1, 1, 2, 0, 2, 0, 1]
    dst = [1, 0, 2, 1, 2, 0, 0, 1]
    got = _truss_got(k_truss(edges_df(spark, src, dst), k=3, rounds=2))
    assert got == {(0, 1): 1, (0, 2): 1, (1, 2): 1}


def test_k_truss_rejects_k_below_2(spark):
    from pagerank_cuda_dynamic_spark.operators.components import k_truss

    import pytest as _pytest

    with _pytest.raises(ValueError):
        k_truss(edges_df(spark, [0], [1]), k=1)


# ---------------------------------------------------------------------------
# seeded_label_propagation
# ---------------------------------------------------------------------------


def _slpa_df(spark, pairs, seeds):
    import pandas as pd

    e = spark.createDataFrame(
        pd.DataFrame(pairs, columns=["src", "dst"]).astype(str)
    )
    s = spark.createDataFrame(
        pd.DataFrame(seeds, columns=["v", "label"]).astype(str)
    )
    return e, s


def test_seeded_lpa_spreads_and_clamps(spark):
    """Line a-b-c-d with seeds a:X, d:Y.  Round 1: b←X (only labeled
    neighbor a), c←Y (only d).  Round 2 RECOMPUTES synchronously: c now
    sees {b:X, d:Y} — a tie, broken to the smallest label X; b's tie
    also resolves X.  Fixpoint {X,X,X,Y}; the seeds never move."""
    from pagerank_cuda_dynamic_spark.operators.components import (
        seeded_label_propagation,
    )

    e, s = _slpa_df(
        spark,
        [("a", "b"), ("b", "c"), ("c", "d")],
        [("a", "X"), ("d", "Y")],
    )
    got = {r.v: r.label for r in seeded_label_propagation(e, s, rounds=4).collect()}
    assert got == {"a": "X", "b": "X", "c": "X", "d": "Y"}


def test_seeded_lpa_majority_and_tiebreak(spark):
    """v has two X-neighbors and one Y-neighbor → X; u has one of each →
    tie broken to the SMALLEST label."""
    from pagerank_cuda_dynamic_spark.operators.components import (
        seeded_label_propagation,
    )

    e, s = _slpa_df(
        spark,
        [("x1", "v"), ("x2", "v"), ("y1", "v"), ("x1", "u"), ("y1", "u")],
        [("x1", "X"), ("x2", "X"), ("y1", "A")],
    )
    got = {r.v: r.label for r in seeded_label_propagation(e, s, rounds=1).collect()}
    assert got["v"] == "X"
    assert got["u"] == "A"  # tie (1 X vs 1 A) → smallest label


def test_seeded_lpa_unreachable_stays_null(spark):
    from pagerank_cuda_dynamic_spark.operators.components import (
        seeded_label_propagation,
    )

    e, s = _slpa_df(
        spark,
        [("a", "b"), ("p", "q")],  # island p-q has no seed
        [("a", "X")],
    )
    got = {r.v: r.label for r in seeded_label_propagation(e, s, rounds=3).collect()}
    assert got == {"a": "X", "b": "X", "p": None, "q": None}


def test_seeded_lpa_duplicate_seed_rows_collapse_to_min(spark):
    from pagerank_cuda_dynamic_spark.operators.components import (
        seeded_label_propagation,
    )

    e, s = _slpa_df(spark, [("a", "b")], [("a", "Z"), ("a", "B")])
    got = {r.v: r.label for r in seeded_label_propagation(e, s, rounds=2).collect()}
    assert got == {"a": "B", "b": "B"}


def test_transitivity_complete_and_path(spark):
    from pagerank_cuda_dynamic_spark.operators.components import transitivity

    # K4: 4 triangles, 4 vertices of degree 3 → 12 wedges → ratio 1.0
    pairs = [(a, b) for a in range(4) for b in range(4) if a < b]
    e = edges_df(spark, [p[0] for p in pairs], [p[1] for p in pairs])
    row = transitivity(e).collect()[0]
    assert (row.n_triangles, row.n_wedges, row.transitivity) == (4, 12, 1.0)

    # path 0-1-2: one wedge, no triangle → 0.0 by convention
    row = transitivity(edges_df(spark, [0, 1], [1, 2])).collect()[0]
    assert (row.n_triangles, row.n_wedges, row.transitivity) == (0, 1, 0.0)


def test_transitivity_matches_bruteforce(spark):
    from pagerank_cuda_dynamic_spark.operators.components import transitivity

    rng = np.random.default_rng(31)
    n, m = 25, 120
    src = rng.integers(0, n, m)
    dst = rng.integers(0, n, m)
    row = transitivity(edges_df(spark, src, dst)).collect()[0]
    und = {(int(a), int(b)) for a, b in zip(src, dst) if a != b}
    und |= {(b, a) for a, b in und}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
    # each triangle is seen from all 3 of its (a<b) edges
    tri = sum(len(adj[a] & adj[b]) for a, b in und if a < b) // 3
    wed = sum(len(v) * (len(v) - 1) // 2 for v in adj.values())
    assert row.n_triangles == tri
    assert row.n_wedges == wed
    want = 3.0 * tri / wed if wed else 0.0
    assert abs(row.transitivity - want) < 1e-12
