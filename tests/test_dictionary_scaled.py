"""Dense numbering must equal global sorted ranks and stay consistent
across the jobs that consume it: the vertex dictionary (numbered on the
driver) and attach_global_seq's two-phase row numbering (range boundary
sampling is per-execution; the pinned snapshot makes ids stable)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pagerank_cuda_dynamic_spark.plans.dictionary import (
    attach_global_seq,
    build_vertex_dictionary,
    encode_edges,
)


def _dictionary(df):
    return build_vertex_dictionary(df, src="entity", dst="entity")


def test_assign_dense_ids_equals_sorted_rank(spark):
    rng = np.random.default_rng(61)
    ents = [f"e{int(x):08d}" for x in rng.choice(10**7, 5000, replace=False)]
    df = spark.createDataFrame(pd.DataFrame({"entity": ents}))
    got = _dictionary(df).toPandas().sort_values("v")
    want = sorted(ents)
    assert list(got["entity"]) == want
    assert list(got["v"]) == list(range(len(ents)))


def test_assign_dense_ids_stable_across_actions(spark):
    rng = np.random.default_rng(67)
    ents = [f"x{int(v):06d}" for v in rng.choice(10**6, 3000, replace=False)]
    df = spark.createDataFrame(pd.DataFrame({"entity": ents}))
    ids = _dictionary(df)
    # two separate actions over the same DF must see identical ids
    a = ids.toPandas().sort_values("entity").reset_index(drop=True)
    b = ids.toPandas().sort_values("entity").reset_index(drop=True)
    assert (a["v"] == b["v"]).all()


def test_attach_global_seq_equals_row_number(spark):
    rng = np.random.default_rng(71)
    n = 4000
    pdf = pd.DataFrame(
        {
            "ts": rng.permutation(n).astype(np.int64),
            "event_id": np.arange(n, dtype=np.int64),
            "payload": rng.integers(0, 100, n).astype(np.int64),
        }
    )
    df = spark.createDataFrame(pdf)
    got = attach_global_seq(df, ["ts", "event_id"]).toPandas()
    got = got.sort_values("seq").reset_index(drop=True)
    want = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
    assert (got["ts"].to_numpy() == want["ts"].to_numpy()).all()
    assert list(got["seq"]) == list(range(n))
    assert set(got.columns) == {"ts", "event_id", "payload", "seq"}


def test_dictionary_rejects_null_endpoints(spark):
    """A null endpoint would take id 0 and shift every other id by one,
    and encode_edges would drop its edge: a ValueError names the count."""
    df = spark.createDataFrame(
        [("a", "b"), ("b", None), ("c", "a")], "src_entity string, dst_entity string"
    )
    with pytest.raises(ValueError, match=r"^1 edge endpoint\(s\) are null"):
        build_vertex_dictionary(df)
    two = spark.createDataFrame(
        [(None, "b"), ("b", None), ("c", "a")], "src_entity string, dst_entity string"
    )
    with pytest.raises(ValueError, match=r"^2 edge endpoint\(s\) are null"):
        build_vertex_dictionary(two)


def test_dictionary_orders_by_code_point(spark):
    """Ids follow Python's sorted() (code point order, which is Spark's
    UTF-8 byte order); a UTF-16 compare would put the emoji before "Ａ"."""
    ents = ["b", "é", "\U0001F600", "Ａ", "a", "z", "ß"]
    pdf = pd.DataFrame({"src_entity": ents, "dst_entity": ents[1:] + ents[:1]})
    edges = spark.createDataFrame(pdf)
    got = build_vertex_dictionary(edges).toPandas().sort_values("v")
    assert list(got["entity"]) == sorted(ents)
    assert list(got["v"]) == list(range(len(ents)))
    ids = {e: i for i, e in enumerate(sorted(ents))}
    enc = encode_edges(edges, build_vertex_dictionary(edges)).toPandas()
    want = sorted((ids[a], ids[b]) for a, b in zip(pdf.src_entity, pdf.dst_entity))
    assert sorted(zip(enc["src"], enc["dst"])) == want
