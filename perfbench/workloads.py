"""The benchmark workloads.

Each workload drives the package only through its public functions, times
one operation at a time (closed loop, one client) and checks every result
against the oracles in `oracles.py` outside the timed interval.

A workload exposes:
  setup(k)       -> Op: build the state an operation needs, then run one
                    warm-up operation; both are timed as set-up number k;
  op(i)          -> Op: one timed operation plus its untimed oracle check;
  ops            -> the measured operations;
  figures()      -> the workload's own end-to-end figures, by name;
  close()        -> release every cached DataFrame and spill directory.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import oracles
from pagerank_cuda_dynamic_spark.operators.components_bsp import connected_components_bsp
from pagerank_cuda_dynamic_spark.operators.graph import tidy_batch
from pagerank_cuda_dynamic_spark.operators.pagerank import PagerankOptions
from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import (
    pagerank_dynamic_frontier_prune_bsp,
    pagerank_static_bsp,
)
from pagerank_cuda_dynamic_spark.plans import GraphSnapshot
from pagerank_cuda_dynamic_spark.plans.dictionary import (
    build_vertex_dictionary,
    encode_edges,
)
from pagerank_cuda_dynamic_spark.sources.bench_graph import dense_transcript_graph
from pagerank_cuda_dynamic_spark.sources.edges import derive_edges_from_transcripts
from pagerank_cuda_dynamic_spark.sources.transcripts import synthesize_transcripts
from pagerank_cuda_dynamic_spark.streaming.checkpoint import CheckpointManager

# Input sizes, fitted so that a whole run stays near a minute on a 4-core
# host; README.md gives the measured times.  dense_transcript_graph yields
# about 134 edges per conversation at adjacency_hops=8.
STREAM_CONVS = 300
INGEST_CONVS = 100
HOPS = 8
BATCH_FRACTION = 1e-3  # raw edge updates per batch, as a share of |E|
RANK_ATOL = 1e-6


@dataclass
class Op:
    seconds: float
    ok: bool
    parts: dict = field(default_factory=dict)  # untraced figures of this op
    layer: dict = field(default_factory=dict)  # per-layer values of this op


def _edge_frame(spark, keys: np.ndarray, n: int):
    pdf = pd.DataFrame({"src": keys // n, "dst": keys % n})
    return spark.createDataFrame(pdf, "src long, dst long")


def _frame_keys(pdf: pd.DataFrame, n: int) -> np.ndarray:
    return pdf["src"].to_numpy(np.int64) * n + pdf["dst"].to_numpy(np.int64)


def _ranks_ok(got: np.ndarray, want: np.ndarray) -> bool:
    return got.shape == want.shape and bool(np.abs(got - want).max() <= RANK_ATOL)


def _rank_result_layers(call: str, r) -> dict:
    """Per-layer values one BSP PageRank call reports about itself."""
    steps = r.superstep_seconds
    return {
        f"pagerank_bsp.{call}.setup_s": r.setup_seconds,
        f"pagerank_bsp.{call}.loop_s": float(sum(steps)),
        f"pagerank_bsp.{call}.superstep_p50_s": statistics.median(steps) if steps else 0.0,
        f"pagerank_bsp.{call}.iterations": r.iterations,
    }


def _warm_up(workload) -> tuple[float, bool]:
    """Seconds and success of the set-up's untraced warm-up operation."""
    with workload.t.paused():
        warm = workload.op(0)
    workload.ops.pop()
    return warm.seconds, warm.ok


def tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least ten
    values beyond it, or None when there are fewer than eleven values."""
    if len(values) < 11:
        return None
    k = len(values) - 11  # 0-based rank with exactly ten values above it
    return 100.0 * (k + 1) / len(values), sorted(values)[k]


class StreamDfp:
    """Set-up: a base graph built, fully packed and statically ranked.
    Operation: one raw edge-update batch on the base graph through tidy ->
    apply -> delta pack -> DF-P from the base ranks -> checkpoint.

    Every batch applies to the same base version.  Carried from batch to
    batch, the edge table's plan grows by one level per batch and a batch's
    time grows with it (about 2 s for the first five batches of a stream on
    a 4-core host, then 4, 4, 6 and 11 s), so the median would depend on how
    many batches fit in a run."""

    name = "stream-dfp"

    def __init__(self, spark, seed: int, tracer, work: str):
        self.spark, self.seed, self.t = spark, seed, tracer
        self.ck_root = os.path.join(work, "checkpoints")
        self.g = None
        self.ops: list[Op] = []
        self.base_edges, self.n = dense_transcript_graph(
            spark, STREAM_CONVS, adjacency_hops=HOPS, seed=seed
        )
        pdf = self.base_edges.toPandas()
        self.base_keys = oracles.edge_keys(pdf["src"].to_numpy(), pdf["dst"].to_numpy(), self.n)
        self.base_oracle = oracles.pagerank(self.base_keys, self.n)
        self.batch = int(BATCH_FRACTION * (self.base_keys.size + self.n))

    def setup(self, k: int) -> Op:
        self.close()
        # every set-up draws the same batches and starts from an empty
        # checkpoint root
        self.rng = np.random.default_rng(self.seed)
        self.batches = 0
        shutil.rmtree(self.ck_root, ignore_errors=True)
        t0 = time.perf_counter()
        with self.t.operation(f"setup-{k}"):
            with self.t.span("graph_snapshot.build"):
                self.g = GraphSnapshot.build(self.base_edges, n=self.n)
            with self.t.span("pagerank_bsp.pack"):
                self.g.bsp_packed()
            with self.t.span("pagerank_bsp.static"):
                base = pagerank_static_bsp(self.g, PagerankOptions())
            self.base_ranks = base.ranks
            self.ck = CheckpointManager(self.spark, self.ck_root, catalog=None)
        seconds = time.perf_counter() - t0
        ok = _ranks_ok(base.ranks, self.base_oracle)
        warm_s, warm_ok = _warm_up(self)
        return Op(seconds + warm_s, ok and warm_ok, layer=_rank_result_layers("static", base))

    def _draw(self) -> tuple[np.ndarray, np.ndarray]:
        """Raw batch: 80 % random inserts, 20 % deletes of existing edges
        (drawn with replacement, so the batch may repeat a pair)."""
        k = self.batch
        n_del = k // 5
        src = self.rng.integers(0, self.n, k - n_del)
        dst = self.rng.integers(0, self.n, k - n_del)
        dst = np.where(src == dst, (dst + 1) % self.n, dst)
        ins = src * self.n + dst
        dels = self.base_keys[self.rng.integers(0, self.base_keys.size, n_del)]
        return ins, dels

    def op(self, i: int) -> Op:
        n, spark = self.n, self.spark
        ins_raw, del_raw = self._draw()
        self.batches += 1
        l = self.batches  # checkpoint iteration of this batch
        t0 = time.perf_counter()
        with self.t.operation(f"op-{i}"):
            ins_df = _edge_frame(spark, ins_raw, n)
            del_df = _edge_frame(spark, del_raw, n)
            with self.t.span("graph.tidy_batch"):
                dels, ins = tidy_batch(self.g.edges, del_df, ins_df)
                # materialize the tidied batch once and cut its lineage: its
                # plan probes the parent's edge set, and with_batch, the
                # delta pack and DF-P's marking would each embed that plan
                # again, batch after batch
                dels, ins = dels.localCheckpoint(), ins.localCheckpoint()
            with self.t.span("graph_snapshot.with_batch"):
                g2 = self.g.with_batch(dels, ins, repartition=False)
            with self.t.span("pagerank_bsp.delta_pack"):
                g2.bsp_packed()
            t_rank = time.perf_counter()
            with self.t.span("pagerank_bsp.dfp"):
                r = pagerank_dynamic_frontier_prune_bsp(self.g, g2, dels, ins, self.base_ranks)
            t_rank = time.perf_counter() - t_rank
            with self.t.span("checkpoint.save"):
                self.ck.save(
                    l, r.ranks, r.state.get("vaff"), r.state["el"],
                    sum(r.superstep_seconds), bounds=r.state["bounds"],
                )
        seconds = time.perf_counter() - t0
        g2.unpersist()

        # oracle: own tidy over the base edge set, own PageRank warm-started
        # from the base ranks, checkpoint read-back
        got_del = np.sort(_frame_keys(dels.toPandas(), n))
        got_ins = np.sort(_frame_keys(ins.toPandas(), n))
        applied = got_del.size + got_ins.size
        base = self.base_keys
        want_del = np.unique(del_raw)[oracles.in_sorted(base, np.unique(del_raw))]
        want_ins = np.unique(ins_raw)[~oracles.in_sorted(base, np.unique(ins_raw))]
        ok = np.array_equal(got_del, want_del) and np.array_equal(got_ins, want_ins)
        keys = np.union1d(np.setdiff1d(base, want_del, assume_unique=True), want_ins)
        ok = ok and _ranks_ok(r.ranks, oracles.pagerank(keys, n, q=self.base_oracle))
        ok = ok and self._checkpoint_matches(l, r.ranks)

        layer = {
            "graph.tidy_kept_ratio": applied / (ins_raw.size + del_raw.size),
            "pagerank_bsp.dfp.pre_loop_s": t_rank - r.pack_seconds - r.setup_seconds
            - sum(r.superstep_seconds),
            "pagerank_bsp.dfp.affected_ratio": r.affected_initial / n,
            "checkpoint.bytes": self._dir_bytes(self.ck._iter_dir(l)),
            **_rank_result_layers("dfp", r),
        }
        op = Op(seconds, bool(ok), {"applied": applied}, layer)
        self.ops.append(op)
        return op

    def _checkpoint_matches(self, l: int, ranks: np.ndarray) -> bool:
        d = self.ck._iter_dir(l)
        if not os.path.exists(os.path.join(d, "metrics.json")):
            return False
        tbl = pq.read_table(os.path.join(d, "ranks"), columns=["v", "rank"]).to_pandas()
        tbl = tbl.sort_values("v")
        return np.array_equal(tbl["v"].to_numpy(), np.arange(ranks.size)) and np.array_equal(
            tbl["rank"].to_numpy(), ranks
        )

    @staticmethod
    def _dir_bytes(d: str) -> int:
        return sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(d)
            for f in files
        )

    def figures(self) -> dict:
        secs = [o.seconds for o in self.ops]
        t = tail(secs)
        applied = sum(o.parts["applied"] for o in self.ops)
        return {
            "update_p50_s": (statistics.median(secs), "s"),
            "update_tail_s": (t[1], f"s (p{t[0]:.0f})") if t else (float("nan"), "s (< 11 batches)"),
            # tidied edge updates applied per second of stream wall time
            "updates_per_s": (applied / sum(secs), "1/s"),
        }

    def close(self) -> None:
        if self.g is not None:
            self.g.unpersist()
            self.g = None


class IngestAnalytics:
    """Set-up: transcripts -> entity edges -> dense dictionary -> encoded
    edge table, cached, then one warm-up operation.  Operation: connected
    components of the encoded edge table."""

    name = "ingest-analytics"

    def __init__(self, spark, seed: int, tracer, work: str):
        self.spark, self.seed, self.t = spark, seed, tracer
        self.ops: list[Op] = []
        self.enc = None
        self.ingest_secs: list[float] = []
        self.turns = synthesize_transcripts(spark, INGEST_CONVS, seed=seed)
        # oracle: the entity edges, their sorted dense ids and components
        want = oracles.transcript_edges(self.turns.toPandas())
        self.entities = sorted({x for e in want for x in e})
        ids = {name: v for v, name in enumerate(self.entities)}
        self.n = len(self.entities)
        src = np.array([ids[a] for a, _ in want], dtype=np.int64)
        dst = np.array([ids[b] for _, b in want], dtype=np.int64)
        self.want_keys = np.sort(src * self.n + dst)
        self.want_cc = oracles.components(src, dst, self.n)

    def setup(self, k: int) -> Op:
        self.close()
        t0 = time.perf_counter()
        with self.t.operation(f"setup-{k}"):
            with self.t.span("dictionary.build"):
                ent = derive_edges_from_transcripts(self.turns).persist()
                dic = build_vertex_dictionary(ent).persist()
                n = dic.count()
            with self.t.span("dictionary.encode"):
                self.enc = encode_edges(ent, dic).persist()
                self.enc.count()
        ingest_s = time.perf_counter() - t0
        self.ingest_secs.append(ingest_s)

        dic_pdf = dic.toPandas().sort_values("v")
        ok = (
            n == self.n
            and dic_pdf["entity"].tolist() == self.entities
            and np.array_equal(dic_pdf["v"].to_numpy(), np.arange(n))
            and np.array_equal(np.sort(_frame_keys(self.enc.toPandas(), n)), self.want_keys)
        )
        # the encoded table is materialized, so dropping its inputs keeps it
        ent.unpersist()
        dic.unpersist()
        warm_s, warm_ok = _warm_up(self)
        return Op(ingest_s + warm_s, ok and warm_ok)

    def op(self, i: int) -> Op:
        t0 = time.perf_counter()
        with self.t.operation(f"op-{i}"):
            with self.t.span("components_bsp.cc"):
                cc = connected_components_bsp(self.enc, self.n)
        seconds = time.perf_counter() - t0
        op = Op(seconds, np.array_equal(cc, self.want_cc))
        self.ops.append(op)
        return op

    def figures(self) -> dict:
        return {
            "ingest_s": (statistics.median(self.ingest_secs), "s"),  # over the set-ups
            "cc_s": (statistics.median(o.seconds for o in self.ops), "s"),
        }

    def close(self) -> None:
        if self.enc is not None:
            self.enc.unpersist()
            self.enc = None


WORKLOADS = {w.name: w for w in (StreamDfp, IngestAnalytics)}
