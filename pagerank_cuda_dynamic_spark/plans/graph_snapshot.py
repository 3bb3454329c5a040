"""GraphSnapshot — an immutable dense-id graph version.

The reference snapshots graphs by copy-construction before each batch
(duplicate.hxx:86–101, main.cu:80).  DataFrames are immutable, so a snapshot
is just: the deduped self-looped edge DF (cached, hash-partitioned by dst —
the gather key of the pull update), the vertex count, and the out-degree
side table (transposeWithDegree's vertex value, transpose.hxx:79–100).
A fast-path with_batch child derives its edges lazily, see with_batch.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from pagerank_cuda_dynamic_spark.operators.graph import (
    apply_batch,
    out_degrees,
)


class GraphSnapshot:
    """edges: (src:long, dst:long), deduped, self-loop on every vertex,
    cached.  Dense id space [0, n).  degrees: (v, outdeg), cached."""

    def __init__(
        self, edges: DataFrame | None, n: int, degrees: DataFrame | None = None
    ):
        self._edges = edges  # None until a lazy with_batch child derives it
        self.n = n
        self._degrees = degrees
        self._outdeg_np: np.ndarray | None = None
        self._bsp_packed: tuple | None = None
        self._bsp_spill: str | None = None
        # (parent, deletions, insertions) when this snapshot came from
        # with_batch — bsp_packed() builds an incremental delta pack from
        # it, and a fast-path child derives its edge set from the result
        self._delta: tuple | None = None
        # (deletions, insertions, src, dst, is_del) once delta_pack has
        # collected the batch: DF seeding reads it instead of Spark
        self._batch: tuple | None = None

    @property
    def edges(self) -> DataFrame:
        if self._edges is None:
            if self._delta is not None:
                self._apply_delta()
            if self._edges is None:
                from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import (
                    spill_edges,
                )

                e = spill_edges(SparkSession.active(), self._bsp_spill).persist()
                # fills the cache in one job; count() takes three here
                e.write.format("noop").mode("overwrite").save()
                self._edges = e
        return self._edges

    @property
    def degrees(self) -> DataFrame:
        if self._degrees is None:
            self._degrees = out_degrees(self.edges).persist()
        return self._degrees

    def _apply_delta(self) -> None:
        """One shot: merge the batch into the parent's stripe spill
        (delta_pack).  When delta_pack declines and the edge set is still
        pending, derive it from the parent with a broadcast anti-join +
        append instead — a narrow plan, valid for a TIDIED batch."""
        from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import (
            _remove_scratch,
            _scratch_dir,
            delta_pack,
        )

        parent, deletions, insertions = self._delta
        spill = _scratch_dir() + "_spill"
        got = delta_pack(self, parent, deletions, insertions, spill_dir=spill)
        self._delta = None  # the parent must not stay pinned
        if got is not None:
            self._bsp_spill, self._bsp_packed = spill, got
            return
        _remove_scratch(spill)
        if self._edges is None:
            on = ["src", "dst"]
            # (v,v) deletions are no-ops on the default path (build
            # re-injects universal self-loops) — hold that here too
            e = (
                parent.edges.join(
                    F.broadcast(
                        deletions.select(on).where(F.col("src") != F.col("dst"))
                    ),
                    on,
                    "left_anti",
                )
                .unionByName(insertions.select(on))
                .persist()
            )
            e.count()
            self._edges = e

    def bsp_packed(self, p: int | None = None, hub_factor: float = 4.0) -> tuple:
        """Cached (packed, bounds, n_stripes, hubs) stripe-CSR build for the
        BSP loop — built once per snapshot like the reference's device CSR.
        p / hub_factor apply only to the first (building) call.

        The pack SPILLS raw stripe records to a scratch dir shared with the
        executors (the same premise as the loop's memmap exchange): repeat
        loop invocations — warm starts, dynamic batches, repeated queries —
        load stripes off the spill instead of re-streaming ~|E|·12 B of blob
        rows through Arrow every run."""
        if self._bsp_packed is None and self._delta is not None:
            # batch-derived snapshot + packed parent → incremental pack:
            # O(|batch| + touched stripes), no |E| shuffle (delta_pack's
            # docstring has the full design)
            self._apply_delta()
        if self._bsp_packed is None:
            from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import (
                _scratch_dir,
                bsp_pack,
            )

            self._bsp_spill = _scratch_dir() + "_spill"
            self._bsp_packed = bsp_pack(
                self, p, hub_factor=hub_factor, spill_dir=self._bsp_spill
            )
        return self._bsp_packed

    @classmethod
    def build(
        cls,
        edges: DataFrame,
        n: int | None = None,
        self_loops: bool = True,
        partitions: int | None = None,
    ) -> "GraphSnapshot":
        """edges: dense-id (src,dst).  n: vertex-space size; derived from
        max id if absent (one pass).  self_loops: the reference's universal
        dead-end elimination (main.cu:169)."""
        spark = edges.sparkSession
        if n is None:
            row = edges.agg(
                F.greatest(F.max("src"), F.max("dst")).alias("m")
            ).collect()[0]
            n = int(row["m"]) + 1 if row["m"] is not None else 0
        e = edges.select("src", "dst")
        if self_loops:
            vertices = spark.range(n).select(F.col("id").alias("v"))
            loops = vertices.select(
                F.col("v").alias("src"), F.col("v").alias("dst")
            )
            e = e.unionByName(loops)
        p = partitions or spark.sparkContext.defaultParallelism
        # repartition FIRST, dedup second: rows with equal (src,dst) share a
        # dst, so they land in the same dst-hash partition and the distinct
        # aggregate runs in place with NO second exchange (HashPartitioning
        # on dst satisfies the agg's clustered-by-(src,dst) requirement) —
        # one |E| shuffle instead of two (measured 7.2 s -> 3.2 s at 20M
        # rows), with the exact same deduped result and the same dst-hash
        # layout the gather loops key on.
        e = e.repartition(p, "dst").distinct().persist()
        e.count()  # materialize
        deg = out_degrees(e).persist()
        return cls(edges=e, n=n, degrees=deg)

    def outdeg_array(self) -> np.ndarray:
        """Dense float64 out-degree array (divisor of the pull update).
        Collected once per snapshot — the PageRank engine assumes |V| fits
        the driver, exactly as the reference assumes it fits one GPU
        (pagerankCuda.hxx:798–805)."""
        if self._outdeg_np is None:
            pdf = self.degrees.toPandas()
            arr = np.zeros(self.n, dtype=np.float64)
            arr[pdf["v"].to_numpy()] = pdf["outdeg"].to_numpy()
            self._outdeg_np = arr
        return self._outdeg_np

    def with_batch(
        self,
        deletions: DataFrame,
        insertions: DataFrame,
        n: int | None = None,
        repartition: bool = True,
    ) -> "GraphSnapshot":
        """New snapshot with the batch applied (batch.hxx:222–247).  Self
        loops are preserved by construction: deletions of (v,v) are the
        caller's responsibility to avoid (the reference never deletes the
        loops it injected).

        repartition=False is the dynamic-regime fast path and assumes a
        TIDIED batch (tidy_batch's contract: dels ⊆ E, ins ∩ E = ∅, ins
        unique, n unchanged).  It runs no Spark job: bsp_packed() merges
        the batch into the parent's stripe spill (delta_pack), and the
        child's edges, on first access, are read back from its own spill —
        or, when delta_pack declines, derived from the parent by a
        broadcast anti-join + append.  Either way the parent must stay
        cached until the child's pack or edges are first used; after that
        the child no longer reads through it.  Correct rows either way;
        only the physical dst-clustering differs, and the BSP pack routes
        by its own key regardless."""
        new_n = n or self.n
        if repartition:
            new_edges = apply_batch(self.edges, deletions, insertions)
            child = GraphSnapshot.build(new_edges, n=new_n, self_loops=True)
        else:
            if new_n != self.n:
                raise ValueError(
                    f"fast-path with_batch cannot grow the id space "
                    f"({self.n} -> {new_n}); use repartition=True"
                )
            child = GraphSnapshot(None, new_n)
        child._delta = (self, deletions, insertions)
        return child

    def unpersist(self) -> None:
        from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import (
            _remove_scratch,
        )

        self._delta = self._batch = None
        for df in (self._edges, self._degrees):
            if df is not None:
                df.unpersist()
        if self._bsp_packed is not None:
            if self._bsp_packed[0] is not None:
                self._bsp_packed[0].unpersist()
            self._bsp_packed = None
        if self._bsp_spill is not None:
            _remove_scratch(self._bsp_spill)
            self._bsp_spill = None
