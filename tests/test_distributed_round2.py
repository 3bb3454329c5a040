"""The shared-nothing components engine: joinagg CC/LPA must match the
NumPy oracles (tests/oracle.py) exactly, with zero driver state."""

from __future__ import annotations

import numpy as np
import pytest

from pagerank_cuda_dynamic_spark.operators.components import (
    connected_components_joinagg,
    label_propagation_joinagg,
    triangle_count,
)

from .conftest import edges_df
from .oracle import components_numpy, label_propagation_numpy


@pytest.fixture(scope="module")
def random_graph(spark):
    rng = np.random.default_rng(43)
    n, m = 600, 2200
    src = rng.integers(0, n, m)
    dst = rng.integers(0, n, m)
    return n, src, dst, edges_df(spark, src, dst)


def test_cc_joinagg_matches_np(spark, random_graph):
    n, src, dst, e = random_graph
    want = components_numpy(n, src, dst)
    got = connected_components_joinagg(e, n).toPandas().sort_values("v")
    assert np.array_equal(got["component"].to_numpy(), want)


def test_cc_joinagg_islands(spark):
    # disjoint cycles: exact component ids = min member
    src = [0, 1, 2, 3, 4, 5, 7, 8]
    dst = [1, 2, 0, 4, 5, 3, 8, 7]
    got = (
        connected_components_joinagg(edges_df(spark, src, dst), 9)
        .toPandas()
        .sort_values("v")["component"]
        .to_numpy()
    )
    assert np.array_equal(got, np.array([0, 0, 0, 3, 3, 3, 6, 7, 7]))


def test_lpa_joinagg_matches_np(spark, random_graph):
    n, src, dst, e = random_graph
    want = label_propagation_numpy(n, src, dst, max_rounds=10)
    got = (
        label_propagation_joinagg(e, n, max_rounds=10)
        .toPandas()
        .sort_values("v")["label"]
        .to_numpy()
    )
    assert np.array_equal(got, want)


def test_triangle_degree_oriented_exact(spark):
    # K4 has 4 triangles; plus a pendant and a hub star (stars add none)
    src = [0, 0, 0, 1, 1, 2, 4, 9, 9, 9, 9]
    dst = [1, 2, 3, 2, 3, 3, 5, 6, 7, 8, 0]
    got = triangle_count(edges_df(spark, src, dst)).collect()[0]["n_triangles"]
    assert got == 4
