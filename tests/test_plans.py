"""Physical-plan regression tests — the PLANS.md audit, enforced.

These never execute the queries (explain only), so they are cheap; they
fail if a future change drops a hot path out of whole-stage codegen
(row-at-a-time `BatchEvalPython`), loses parquet pushdown/pruning, or
turns a tidy-batch semi/anti join into a shuffle join.
"""

from __future__ import annotations

import contextlib
import io

import pyspark.sql.functions as F
import pytest

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_text_ops_stay_jvm_side(spark, docs):
    """The whole text family must compile to JVM expressions — no
    BatchEvalPython (row-at-a-time Python) anywhere."""
    from pagerank_cuda_dynamic_spark.operators.text import (
        chunk_documents,
        fingerprints,
        language_id,
        quality_score,
        text_scrub,
        token_stats,
    )

    for op in (token_stats, quality_score, language_id, fingerprints, text_scrub, chunk_documents):
        p = plan_of(op(docs))
        assert "BatchEvalPython" not in p, op.__name__

def test_dedup_joins_stay_jvm_side(spark, docs):
    from pagerank_cuda_dynamic_spark.operators.dedup import (
        exact_duplicates,
        minhash_dedup_pairs,
    )

    assert "BatchEvalPython" not in plan_of(exact_duplicates(docs))
    assert "BatchEvalPython" not in plan_of(minhash_dedup_pairs(docs, threshold=0.5))


def test_filter_pushdown_and_column_pruning(spark, docs):
    """A filtered 2-column projection must reach the parquet scan as
    PushedFilters + a pruned ReadSchema (not a post-scan Filter over all
    columns)."""
    p = plan_of(docs.where(F.col("doc_id") < 200).select("doc_id", "text"))
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,200)]" in p
    # pruned read schema: only the two selected columns
    assert "ReadSchema" in p
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "lang" not in read_schema and "n_chars" not in read_schema


def test_tidy_batch_uses_broadcast_anti_join(spark):
    """Batch tidying (J3/G10) must broadcast the small batch side — a
    SortMergeJoin here would shuffle the full edge table per batch, and a
    build-side flip would try to hash the whole graph.  The edge-table
    probe is the only query that reads the edges: the returned frames are
    built on the driver and never re-read them."""
    import pandas as pd

    from pagerank_cuda_dynamic_spark.operators.graph import _batch_probe, tidy_batch

    edges = spark.range(0, 10000).select(
        F.col("id").alias("src"), ((F.col("id") * 7 + 1) % 10000).alias("dst")
    )
    dels_in = spark.createDataFrame(pd.DataFrame({"src": [1, 2], "dst": [8, 15]}))
    ins_in = spark.createDataFrame(pd.DataFrame({"src": [3, 4], "dst": [22, 29]}))
    p = plan_of(_batch_probe(edges, dels_in.unionByName(ins_in)))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    # every broadcast must build the batch-derived (right) side
    assert "BuildLeft" not in p
    for df in tidy_batch(edges, dels_in, ins_in):
        p = plan_of(df)
        assert "Range" not in p and "Join" not in p


def test_entity_edges_broadcast_dims(spark):
    """The TPC-H-ish entity-edge derivation joins fact tables to small
    dims — every join must be broadcast at sf0.001."""
    from pagerank_cuda_dynamic_spark.sources.edges import derive_entity_edges

    p = plan_of(derive_entity_edges(spark, SF_DIR))
    assert "BatchEvalPython" not in p
    assert "BroadcastHashJoin" in p


def test_temporal_ops_single_shuffle_jvm_side(spark):
    """Sessionization and the union-tag ASOF join must stay JVM-side and
    shuffle exactly ONCE on the key column — the whole point of the
    union-tag formulation is avoiding a range join / second exchange."""
    import datetime as dt

    import pandas as pd

    from pagerank_cuda_dynamic_spark.operators.temporal import asof_join, sessionize

    base = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        pd.DataFrame(
            {
                "event_id": [1, 2],
                "user_id": [1, 1],
                "ts": [base, base + dt.timedelta(seconds=10)],
                "event_type": ["a", "b"],
                "value": [1.0, 2.0],
            }
        )
    )
    p = plan_of(sessionize(ev))
    assert "BatchEvalPython" not in p
    # tree lines render as "+- Exchange (n)" — count those, not the
    # per-node detail headers "(n) Exchange"
    assert p.count("Exchange (") == 1, "one keyed shuffle"

    left = ev.select("event_id", "user_id", "ts")
    right = ev.select("user_id", "ts", "value")
    p = plan_of(asof_join(left, right))
    assert "BatchEvalPython" not in p
    # both union legs hash-partition on the key into ONE window exchange
    # (no range/cartesian product anywhere)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert p.count("Window") >= 1


def test_line_dedup_jvm_side_no_raw_line_shuffle(spark, docs):
    """line_dedup's hot-key aggregate must group on the 32-byte md5 key,
    never the raw line text, and stay out of Python."""
    from pagerank_cuda_dynamic_spark.operators.dedup import line_dedup

    p = plan_of(line_dedup(docs.select("doc_id", "text")))
    assert "BatchEvalPython" not in p
    assert "md5" in p  # the constant-size key is what shuffles


def test_new_graph_ops_jvm_side_and_window_scope(spark):
    """Round-4 additions: walks / sampling / propagation / stats stay
    JVM-side, and every window is key-partitioned (no Exchange
    SinglePartition from a global window)."""
    import numpy as np
    import pandas as pd

    from pagerank_cuda_dynamic_spark.operators.features import (
        explode_features,
        propagate_features,
    )
    from pagerank_cuda_dynamic_spark.operators.walks import sample_neighbors

    pdf = pd.DataFrame(
        {"src": np.arange(50, dtype=np.int64) % 10, "dst": np.arange(50, dtype=np.int64) % 7}
    )
    e = spark.createDataFrame(pdf)
    p = plan_of(sample_neighbors(e, k=3))
    assert "BatchEvalPython" not in p
    # the rank-k window must be src-partitioned, never a global window
    assert "SinglePartition" not in p

    feats = explode_features(
        spark.createDataFrame(
            pd.DataFrame({"v": [0, 1], "embedding": [[1.0, 2.0], [3.0, 4.0]]})
        ),
        "v",
        "embedding",
    )
    assert "BatchEvalPython" not in plan_of(propagate_features(e, feats, hops=1))


def test_harmonic_and_walk_rounds_jvm_side(spark):
    import numpy as np
    import pandas as pd

    from pagerank_cuda_dynamic_spark.operators.graph import harmonic_centrality
    from pagerank_cuda_dynamic_spark.operators.walks import deterministic_walks

    pdf = pd.DataFrame(
        {"src": np.arange(60, dtype=np.int64) % 12, "dst": (np.arange(60, dtype=np.int64) * 7) % 11}
    )
    e = spark.createDataFrame(pdf)
    starts = e.select("src").distinct().limit(5)
    assert "BatchEvalPython" not in plan_of(deterministic_walks(e, starts, steps=2))
    assert "BatchEvalPython" not in plan_of(harmonic_centrality(e, starts, max_depth=2))


def test_round4_ops_stay_jvm_side(spark, docs):
    """coreness / louvain_moves / dsir_importance plans: pure built-ins
    (no BatchEvalPython anywhere), and the DSIR bucket→ratio map joins
    as a broadcast (the ≤n_buckets side must never shuffle the exploded
    token table)."""
    from pagerank_cuda_dynamic_spark.operators.centrality import coreness
    from pagerank_cuda_dynamic_spark.operators.components import louvain_moves
    from pagerank_cuda_dynamic_spark.operators.sampling import dsir_importance

    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3)], "src long, dst long"
    )
    assert "BatchEvalPython" not in plan_of(coreness(e, rounds=2))
    assert "BatchEvalPython" not in plan_of(louvain_moves(e, rounds=2))
    scored = dsir_importance(docs, F.col("source") == "src1", n_buckets=64)
    p = plan_of(scored)
    assert "BatchEvalPython" not in p


def test_late_round4_ops_jvm_side_and_window_scope(spark, docs):
    """k_truss / salsa / cocitation / rich_club / distance_distribution /
    lm_score / dedup_representatives: pure built-ins (no BatchEvalPython),
    and the KMV rank-k windows stay v-partitioned (no Exchange
    SinglePartition from a global window)."""
    import pandas as pd

    from pagerank_cuda_dynamic_spark.operators.centrality import salsa
    from pagerank_cuda_dynamic_spark.operators.components import k_truss
    from pagerank_cuda_dynamic_spark.operators.dedup import dedup_representatives
    from pagerank_cuda_dynamic_spark.operators.text import lm_score
    from pagerank_cuda_dynamic_spark.operators.webgraph import (
        cocitation_graph,
        distance_distribution,
        rich_club,
    )

    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2)], "src long, dst long"
    )
    assert "BatchEvalPython" not in plan_of(k_truss(e, k=3, rounds=2))
    assert "BatchEvalPython" not in plan_of(salsa(e, iterations=2))
    assert "BatchEvalPython" not in plan_of(cocitation_graph(e))
    assert "BatchEvalPython" not in plan_of(rich_club(e, max_k=5))

    assert "BatchEvalPython" not in plan_of(distance_distribution(e, rounds=1, k=4))
    # the KMV rank-k window must be v-partitioned, never global: the pure
    # sketch path (no scalar aggregates) must not contain SinglePartition
    from pagerank_cuda_dynamic_spark.operators.webgraph import (
        neighborhood_function,
    )

    p = plan_of(neighborhood_function(e, rounds=1, k=4))
    assert "BatchEvalPython" not in p
    assert "SinglePartition" not in p

    assert "BatchEvalPython" not in plan_of(lm_score(docs))

    pairs = spark.createDataFrame(pd.DataFrame({"id_a": [1], "id_b": [2]}))
    q = docs.select("doc_id", F.lit(0.5).alias("quality"))
    assert "BatchEvalPython" not in plan_of(dedup_representatives(q, pairs))


def test_round5_ops_stay_jvm_side(spark):
    """maximal_matching / trustrank_spam_mass: pure built-ins — no
    BatchEvalPython in the result plans (the matching loop's per-round
    frames are the same join/agg shapes and cannot host Python UDFs)."""
    from pagerank_cuda_dynamic_spark.operators.centrality import (
        trustrank_spam_mass,
    )
    from pagerank_cuda_dynamic_spark.operators.graph import maximal_matching

    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4)], "src long, dst long"
    )
    assert "BatchEvalPython" not in plan_of(maximal_matching(e))
    trusted = spark.createDataFrame([(0,), (3,)], "v long")
    assert "BatchEvalPython" not in plan_of(
        trustrank_spam_mass(e, trusted, iterations=2)
    )
    from pagerank_cuda_dynamic_spark.operators.centrality import (
        absorption_probability,
    )

    ew = spark.createDataFrame(
        [(0, 1, 3), (1, 2, 5), (2, 0, 1)], "src long, dst long, w long"
    )
    assert "BatchEvalPython" not in plan_of(
        maximal_matching(ew, weight_col="w")
    )
    t = spark.createDataFrame([(2,)], "v long")
    assert "BatchEvalPython" not in plan_of(
        absorption_probability(e, t, rounds=2)
    )
    from pagerank_cuda_dynamic_spark.operators.graph import topological_levels
    from pagerank_cuda_dynamic_spark.operators.sampling import (
        interleave_sources,
    )

    dag = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    assert "BatchEvalPython" not in plan_of(topological_levels(dag))
    docs = spark.createDataFrame(
        [(0, "A"), (1, "B")], "doc_id long, source string"
    )
    wts = spark.createDataFrame([("A", 1), ("B", 2)], "source string, w int")
    p = plan_of(interleave_sources(docs, wts))
    assert "BatchEvalPython" not in p
    from pagerank_cuda_dynamic_spark.operators.graph import temporal_reachability
    from pagerank_cuda_dynamic_spark.operators.webgraph import densest_subgraph

    te = spark.createDataFrame(
        [(0, 1, 5), (1, 2, 7)], "src long, dst long, seq long"
    )
    ts = spark.createDataFrame([(0,)], "v long")
    assert "BatchEvalPython" not in plan_of(
        temporal_reachability(te, ts, max_hops=2)
    )
    assert "BatchEvalPython" not in plan_of(densest_subgraph(dag))
    # embedding stats: centroids pure JVM; covariance is Arrow-batched
    # MapInPandas (vectorized GEMM), never row-at-a-time BatchEvalPython
    from pagerank_cuda_dynamic_spark.operators.similarity import (
        embedding_centroids,
        gram_covariance,
    )

    emb = spark.createDataFrame(
        [(0, [1.0, 2.0], "a")], "vec_id long, embedding array<float>, label string"
    )
    assert "BatchEvalPython" not in plan_of(embedding_centroids(emb))
    p = plan_of(gram_covariance(emb))
    assert "BatchEvalPython" not in p
    assert "MapInPandas" in p
    from pagerank_cuda_dynamic_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    d2 = spark.createDataFrame(
        [(0, "a b c d e"), (1, "a b c d f")], "doc_id long, text string"
    )
    assert "BatchEvalPython" not in plan_of(remove_duplicate_spans(d2, window=4))
    from pagerank_cuda_dynamic_spark.operators.temporal import (
        funnel_steps,
        retention_cohorts,
    )

    ev = spark.createDataFrame(
        [(1, "a", "2024-01-01 00:00:00")], "user_id long, event_type string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    assert "BatchEvalPython" not in plan_of(funnel_steps(ev, ["a", "b"]))
    assert "BatchEvalPython" not in plan_of(retention_cohorts(ev))
    from pagerank_cuda_dynamic_spark.operators.walks import negative_samples

    assert "BatchEvalPython" not in plan_of(negative_samples(te, 5, k=1))


def test_broadcast_state_hints_materialized_frames(spark):
    """Iterative loops barrier their per-vertex state with materialize()
    (localCheckpoint -> LogicalRDD), which carries no usable size estimate,
    so Catalyst never auto-broadcasts it: without the explicit hint every
    round reshuffles the full edge table.  broadcast_state(df, n_rows) must
    force the broadcast while the state is executor-resident and fall back
    to the shuffle join past the cap."""
    from pagerank_cuda_dynamic_spark.plans.barrier import (
        STATE_BROADCAST_MAX_ROWS,
        broadcast_state,
        materialize,
    )

    # edge side sized past the auto-broadcast threshold (explain-only:
    # nothing here executes, the range is never materialized)
    edges = spark.range(0, 50_000_000).select(
        F.col("id").alias("src"), ((F.col("id") * 7 + 1) % 5000).alias("dst")
    )
    state = materialize(spark.range(0, 100).select(F.col("id").alias("dst"),
                                                   F.lit(1.0).alias("x")))
    # the regression this guards: a materialized state frame does NOT
    # auto-broadcast even at 100 rows
    assert "BroadcastHashJoin" not in plan_of(edges.join(state, "dst"))
    # the hint lands while executor-resident ...
    p = plan_of(edges.join(broadcast_state(state, 100), "dst"))
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p
    # ... and is withheld past the residency cap
    p = plan_of(edges.join(broadcast_state(state, STATE_BROADCAST_MAX_ROWS + 1), "dst"))
    assert "BroadcastHashJoin" not in p
