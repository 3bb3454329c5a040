"""Structured Streaming surface.

The reference's "streaming" is prefix-consumption of a temporal edge file
(snap.hxx:41–58) — reproduced deterministically by streaming/driver.py.
This module adds the genuine Structured Streaming equivalents for live
ingestion:

  turn_adjacency_stream   stateful cross-micro-batch turn chaining: per
                          conversation, the last seen turn is kept in the
                          state store (applyInPandasWithState) so an
                          adjacency edge is emitted even when consecutive
                          turns arrive in different micro-batches.
  windowed_edge_stats     watermarked sliding-window edge-arrival counts
                          (late data handled by the watermark).
  StreamingPagerankDriver foreachBatch sink: grows the vertex dictionary,
                          tidies + applies each micro-batch as an edge
                          batch, and runs warm-start (ND) or
                          Dynamic-Frontier-Prune PageRank, checkpointing
                          ranks per batch.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EDGE_SCHEMA = T.StructType(
    [
        T.StructField("src_entity", T.StringType(), False),
        T.StructField("dst_entity", T.StringType(), False),
        T.StructField("etype", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_turn_idx", T.IntegerType(), True),
    ]
)


def _chain_turns(key, pdf_iter, state: GroupState):
    """Per-conversation stateful chaining: emit turn→turn adjacency edges,
    including the edge from the last turn of a PREVIOUS micro-batch to the
    first turn of this one (state carries the last seen turn_idx).

    Fully vectorized (shift/concat) — no per-row Python loop in the
    stateful kernel; batches arrive Arrow-columnar and stay columnar."""
    (conv_id,) = key
    last_idx = state.get[0] if state.exists and state.get[0] >= 0 else None
    frames = []
    for pdf in pdf_iter:
        if not len(pdf):
            continue
        pdf = pdf.sort_values("turn_idx")
        ent = "turn:" + f"{conv_id}:" + pdf["turn_idx"].astype(str)
        prev = ent.shift(1)
        if last_idx is not None:
            prev.iloc[0] = f"turn:{conv_id}:{last_idx}"
        adj = pd.DataFrame(
            {
                "src_entity": prev,
                "dst_entity": ent,
                "etype": "adjacency",
                "ts": pdf["ts"],
            }
        ).dropna(subset=["src_entity"])
        has_tool = pdf["tool"].notna()
        tool = pd.DataFrame(
            {
                "src_entity": ent[has_tool],
                "dst_entity": "tool:" + pdf.loc[has_tool, "tool"].astype(str),
                "etype": "tool",
                "ts": pdf.loc[has_tool, "ts"],
            }
        )
        role = pd.DataFrame(
            {
                "src_entity": ent,
                "dst_entity": "role:" + pdf["role"].astype(str),
                "etype": "role",
                "ts": pdf["ts"],
            }
        )
        parts = [adj, tool, role]
        if last_idx is None and int(pdf["turn_idx"].iloc[0]) == 0:
            parts.append(
                pd.DataFrame(
                    {
                        "src_entity": [f"conv:{conv_id}"],
                        "dst_entity": [ent.iloc[0]],
                        "etype": ["conv"],
                        "ts": [pdf["ts"].iloc[0]],
                    }
                )
            )
        frames.append(pd.concat(parts, ignore_index=True))
        last_idx = int(pdf["turn_idx"].iloc[-1])
    state.update((last_idx if last_idx is not None else -1,))
    if frames:
        yield pd.concat(frames, ignore_index=True)


def turn_adjacency_stream(transcripts_stream: DataFrame) -> DataFrame:
    """Streaming transcript turns → streaming entity edge stream with
    cross-batch adjacency continuity (custom stateful operator)."""
    return transcripts_stream.groupBy("conv_id").applyInPandasWithState(
        _chain_turns,
        EDGE_SCHEMA,
        _STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def windowed_edge_stats(
    edge_stream: DataFrame, window: str = "10 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Watermarked tumbling-window edge-arrival counts per etype (S8 metrics
    analog for live ingestion; late rows beyond the watermark are dropped)."""
    return (
        edge_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "etype")
        .agg(F.count(F.lit(1)).alias("n_edges"))
        .select(F.col("w.start").alias("window_start"), "etype", "n_edges")
    )


DOC_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
    ]
)


def streaming_corpus_filter(
    doc_stream: DataFrame,
    min_quality: float = 0.25,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming ingest twin of the batch `corpus_filter` pipeline:
    scrub → cross-micro-batch exact dedup → language-ID → quality gate.

    Every stage except the dedup is the SAME stateless column-expression
    vocabulary the batch operators use (operators/text.scrub_exprs /
    language_id / quality_expr), applied to a streaming DataFrame — they
    are streaming-safe by construction (no windows, no collect).  The one
    stateful op is the built-in `dropDuplicatesWithinWatermark` keyed on
    the xxhash64 of the normalization fingerprint: constant-size state
    per distinct doc, aged out by the watermark — the bounded-state
    streaming shape (batch dedup's keeper=min(doc_id) becomes
    keeper=first-arrival, the streaming-correct semantics)."""
    from pagerank_cuda_dynamic_spark.operators.dedup import fingerprint_key
    from pagerank_cuda_dynamic_spark.operators.text import (
        language_id,
        quality_expr,
        scrub_exprs,
    )

    clean, n_red = scrub_exprs("text")
    deduped = (
        doc_stream.withColumn("clean_text", clean)
        .withColumn("n_redactions", n_red)
        .withColumn("fp64", F.xxhash64(fingerprint_key("clean_text")))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["fp64"])
    )
    tagged = language_id(deduped, text_col="clean_text").withColumn(
        "quality", F.round(quality_expr("clean_text"), 6)
    )
    return tagged.where(F.col("quality") >= min_quality).select(
        "doc_id", "clean_text", "n_redactions", "lang_pred", "quality", "ts"
    )


class StreamingPagerankDriver:
    """foreachBatch sink maintaining (dictionary, graph snapshot, ranks).

    Per micro-batch: new entities get the next dense ids (deterministic:
    sorted within batch, appended after existing — the streaming analog of
    the dense remap ksMap, pagerankCuda.hxx:765–775); the batch becomes an
    insert-only edge batch (tidy → apply); ranks warm-start from the prior
    state via Dynamic-Frontier-Prune (technique='dfp') or plain warm
    restart ('nd').

    The entity dictionary is a DataFrame: an anti-join finds the batch's
    new entities, whose distinct strings are numbered on the driver
    (plans.dictionary.number_entities); edge rows never pass through the
    driver."""

    def __init__(self, spark, technique: str = "dfp", ckpt_root: str | None = None):
        from pagerank_cuda_dynamic_spark.operators.pagerank import PagerankOptions

        self.spark = spark
        self.technique = technique
        self.ckpt_root = ckpt_root
        self.opts = PagerankOptions()
        self.dict_df: DataFrame | None = None
        self.n_entities = 0
        self.graph = None
        self.ranks: np.ndarray | None = None
        self.batches_seen = 0

    def _encode_batch(self, batch_df: DataFrame) -> DataFrame:
        from pagerank_cuda_dynamic_spark.plans.barrier import materialize
        from pagerank_cuda_dynamic_spark.plans.dictionary import (
            encode_edges,
            number_entities,
        )

        e = batch_df.select("src_entity", "dst_entity")
        ents = e.select(F.col("src_entity").alias("entity")).unionByName(
            e.select(F.col("dst_entity").alias("entity"))
        )
        new = (
            ents
            if self.dict_df is None
            else ents.join(self.dict_df.select("entity"), "entity", "left_anti")
        )
        new_ids = number_entities(new, first=self.n_entities)
        self.dict_df = materialize(
            new_ids
            if self.dict_df is None
            else self.dict_df.unionByName(new_ids)
        )
        self.n_entities = self.dict_df.count()
        return encode_edges(e, self.dict_df, src="src_entity", dst="dst_entity")

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from pagerank_cuda_dynamic_spark.operators.graph import tidy_batch
        from pagerank_cuda_dynamic_spark.operators.pagerank import _adjust_warm_start
        from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import (
            pagerank_dynamic_frontier_prune_bsp,
            pagerank_static_bsp,
        )
        from pagerank_cuda_dynamic_spark.plans.graph_snapshot import GraphSnapshot
        from pagerank_cuda_dynamic_spark.streaming.checkpoint import CheckpointManager

        if batch_df.isEmpty():
            return
        edges = self._encode_batch(batch_df)
        n = self.n_entities
        if self.graph is None:
            self.graph = GraphSnapshot.build(edges, n=n)
            res = pagerank_static_bsp(self.graph, self.opts)
        else:
            old = self.graph
            empty = edges.limit(0)
            dels, ins = tidy_batch(old.edges, empty, edges)
            new = old.with_batch(dels, ins, n=n)
            q = _adjust_warm_start(self.ranks, n)
            # DF-P's affected-only update assumes a FIXED vertex span (the
            # reference pre-adds all vertices, snap.hxx:133): when new
            # vertices arrive, C0=(1−P)/N changes for EVERY vertex, so fall
            # back to warm-start ND (still far cheaper than cold static).
            if self.technique == "dfp" and n == old.n:
                res = pagerank_dynamic_frontier_prune_bsp(old, new, dels, ins, q, self.opts)
            else:
                res = pagerank_static_bsp(new, self.opts, q=q)
            old.unpersist()
            self.graph = new
        self.ranks = res.ranks
        self.batches_seen += 1
        if self.ckpt_root:
            cm = CheckpointManager(self.spark, f"{self.ckpt_root}/stream")
            cm.save(self.batches_seen, res.ranks, res.state.get("vaff"),
                    res.state.get("el", 0.0), res.time,
                    bounds=res.state.get("bounds"),
                    extra={"stream_batch_id": int(batch_id)})

    def attach(self, edge_stream: DataFrame, checkpoint_location: str):
        """Returns a DataStreamWriter wired to this driver."""
        return (
            edge_stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_location)
            .outputMode("append")
        )

    def ranks_df(self) -> DataFrame:
        pdf = pd.DataFrame(
            {"v": np.arange(len(self.ranks), dtype=np.int64), "rank": self.ranks}
        )
        return (
            self.spark.createDataFrame(pdf)
            .join(self.dict_df, "v")
            .select("entity", "rank")
        )


# `_chain_turns` is a module-level function handed to
# applyInPandasWithState, so workers deserialize it BY REFERENCE and must
# import this module — which fails when the driver put the repo on
# sys.path at runtime (no --py-files).  Register the module for by-value
# pickling so the stateful kernel travels inside the serialized task
# (same fix as operators/multimodal.py; reproduced driving from /tmp).
import sys as _sys  # noqa: E402

try:
    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_sys.modules[__name__])
except Exception:  # pragma: no cover — older pyspark without the API
    pass
