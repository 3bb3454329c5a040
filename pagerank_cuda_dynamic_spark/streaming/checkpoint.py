"""Superstep checkpointing + resume (north rule: every superstep persists
the rank vector and affected-frontier bitmap with per-partition lineage and
iteration metrics, so a killed job resumes mid-convergence).

Storage: two backends behind one contract —
  * Parquet snapshot directories (`<root>/iter=<l>/`) — the Iceberg table
    contract (immutable snapshot per commit, latest wins) without needing
    Iceberg jars; the sandbox default.  The ranks are already a NumPy
    array on the driver, so these are written and read with pyarrow: no
    Spark job.  load() also reads directories that Spark wrote.
  * A real Iceberg catalog (`catalog=` or auto-detected from
    `spark.sql.catalog.<name> = …iceberg…` conf) — `writeTo(...).append()`
    per superstep into iter-keyed tables; Iceberg's snapshot commit replaces
    the directory-rename publish.  Gated so environments without the jars
    fall back to Parquet dirs with identical semantics.

Layout per checkpoint:
  ranks/     (v:long, rank:double, part:int)   — part = dst-stripe id (lineage)
  frontier/  (v:long)                          — affected bitmap, sparse
  metrics.json                                 — iteration, l∞ residual,
                                                 superstep seconds, counts
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import SparkSession


def _write_parquet(path: str, columns: dict) -> None:
    """One Parquet file under directory `path`.  Dictionary encoding only
    on the stripe id `part` and no stored Arrow schema: that keeps the
    files as small as Spark's writer made them."""
    os.makedirs(path)
    pq.write_table(
        pa.table(columns),
        os.path.join(path, "part-00000.parquet"),
        use_dictionary=["part"] if "part" in columns else False,
        store_schema=False,
    )


def _read_bitmap(path: str, n: int) -> np.ndarray | None:
    """Sparse id set under directory `path` as a dense bitmap, or None."""
    if not os.path.isdir(path):
        return None
    out = np.zeros(n, dtype=bool)
    out[pq.read_table(path, columns=["v"])["v"].to_numpy()] = True
    return out


def detect_iceberg_catalog(spark: SparkSession) -> str | None:
    """Name of a configured Iceberg Spark catalog, or None.  Detection is
    conf-only (spark.sql.catalog.<name> = …iceberg…) — cheap and safe in
    environments without the jars."""
    try:
        confs = spark.sparkContext.getConf().getAll()
    except Exception:  # pragma: no cover - defensive
        return None
    for k, v in confs:
        parts = k.split(".")
        if (
            k.startswith("spark.sql.catalog.")
            and len(parts) == 4
            and "iceberg" in str(v).lower()
        ):
            return parts[3]
    return None


class CheckpointManager:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        every: int = 1,
        catalog: str | None = "auto",
        namespace: str = "pr_ckpt",
    ):
        """catalog: "auto" (default) detects a configured Iceberg catalog
        but STILL uses Parquet when `root` already holds iter=* snapshots
        (a resume must see prior state, not silently restart); None or ""
        forces the Parquet backend; any other string names the catalog
        explicitly."""
        self.spark = spark
        self.root = root
        self.every = max(every, 1)
        if catalog == "auto":
            catalog = detect_iceberg_catalog(spark)
            if catalog and os.path.isdir(root) and any(
                x.startswith("iter=") and not x.endswith(".tmp")
                for x in os.listdir(root)
            ):
                catalog = None
        self.catalog = catalog or None
        # table-name prefix derived from root so concurrent runs don't collide
        safe = "".join(c if c.isalnum() else "_" for c in os.path.basename(root.rstrip("/")))
        self.namespace = f"{namespace}_{safe}" if safe else namespace
        if self.catalog:
            spark.sql(
                f"CREATE NAMESPACE IF NOT EXISTS {self.catalog}.{self.namespace}"
            )
        else:
            os.makedirs(root, exist_ok=True)

    def _tbl(self, name: str) -> str:
        return f"{self.catalog}.{self.namespace}.{name}"

    def _iter_dir(self, l: int) -> str:
        return os.path.join(self.root, f"iter={l:06d}")

    def save(
        self,
        l: int,
        ranks: np.ndarray,
        vaff: np.ndarray | None,
        el: float,
        step_seconds: float,
        bounds: np.ndarray | None = None,
        extra: dict | None = None,
        movers: np.ndarray | None = None,
    ) -> None:
        if l % self.every:
            return
        n = len(ranks)
        if bounds is None:
            bounds = np.array([0, n], dtype=np.int64)
        part = np.searchsorted(bounds, np.arange(n), side="right") - 1
        cols = {
            "v": np.arange(n, dtype=np.int64),
            "rank": np.asarray(ranks, dtype=np.float64),
            "part": part.astype(np.int32),
        }
        meta = {
            "iteration": l,
            "linf_residual": el,
            "superstep_seconds": step_seconds,
            "n_vertices": n,
            "n_affected": int(vaff.sum()) if vaff is not None else n,
            "wall_time": time.time(),
            "n_partitions": len(bounds) - 1,
        }
        meta.update(extra or {})
        if self.catalog:
            self._save_iceberg(l, pd.DataFrame(cols), vaff, movers, meta)
            return
        d = self._iter_dir(l)
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)  # a crashed earlier attempt
        _write_parquet(os.path.join(tmp, "ranks"), cols)
        if vaff is not None and vaff.any():
            _write_parquet(
                os.path.join(tmp, "frontier"),
                {"v": np.flatnonzero(vaff).astype(np.int64)},
            )
        if movers is not None and movers.any():
            # pending out-neighbor expansion of the last pre-kill iteration
            # (DF/DF-P): without it a resumed run under-marks affected
            # vertices and can converge to different ranks
            _write_parquet(
                os.path.join(tmp, "movers"),
                {"v": np.flatnonzero(movers).astype(np.int64)},
            )
        with open(os.path.join(tmp, "metrics.json"), "w") as fh:
            json.dump(meta, fh)
        os.rename(tmp, d)  # atomic publish (snapshot commit)

    def _append(self, name: str, df) -> None:
        tbl = self._tbl(name)
        if self.spark.catalog.tableExists(tbl):
            df.writeTo(tbl).append()
        else:
            df.writeTo(tbl).using("iceberg").createOrReplace()

    def _save_iceberg(self, l, pdf, vaff, movers, meta) -> None:
        """Iter-keyed appends; metrics commit LAST so `latest()` only sees
        iterations whose every table landed (Iceberg commits are atomic per
        table; the metrics row is the cross-table publish marker)."""
        lit_l = F.lit(l).alias("iter")
        self._append("ranks", self.spark.createDataFrame(pdf).select(lit_l, "*"))
        if vaff is not None and vaff.any():
            fr = pd.DataFrame({"v": np.flatnonzero(vaff).astype(np.int64)})
            self._append("frontier", self.spark.createDataFrame(fr).select(lit_l, "*"))
        if movers is not None and movers.any():
            mv = pd.DataFrame({"v": np.flatnonzero(movers).astype(np.int64)})
            self._append("movers", self.spark.createDataFrame(mv).select(lit_l, "*"))
        mrow = pd.DataFrame({"iter": [l], "metrics_json": [json.dumps(meta)]})
        self._append("metrics", self.spark.createDataFrame(mrow))

    def latest(self) -> int | None:
        if self.catalog:
            tbl = self._tbl("metrics")
            if not self.spark.catalog.tableExists(tbl):
                return None
            row = self.spark.table(tbl).agg(F.max("iter")).collect()[0][0]
            return int(row) if row is not None else None
        if not os.path.isdir(self.root):
            return None
        its = [
            int(x.split("=")[1])
            for x in os.listdir(self.root)
            if x.startswith("iter=") and not x.endswith(".tmp")
        ]
        return max(its) if its else None

    def load(self, l: int | None = None):
        """Returns (iteration, ranks, vaff or None, movers or None, metrics)."""
        if l is None:
            l = self.latest()
        if l is None:
            return None
        if self.catalog:
            return self._load_iceberg(l)
        d = self._iter_dir(l)
        with open(os.path.join(d, "metrics.json")) as fh:
            meta = json.load(fh)
        n = meta["n_vertices"]
        # pyarrow's directory read skips Spark's _SUCCESS and .crc files
        tbl = pq.read_table(os.path.join(d, "ranks"), columns=["v", "rank"])
        ranks = np.zeros(n, dtype=np.float64)
        ranks[tbl["v"].to_numpy()] = tbl["rank"].to_numpy()
        vaff = _read_bitmap(os.path.join(d, "frontier"), n)
        movers = _read_bitmap(os.path.join(d, "movers"), n)
        return l, ranks, vaff, movers, meta

    def _load_iceberg(self, l: int):
        mrow = (
            self.spark.table(self._tbl("metrics"))
            .where(F.col("iter") == l)
            .collect()
        )
        if not mrow:
            return None
        meta = json.loads(mrow[0]["metrics_json"])
        n = meta["n_vertices"]
        pdf = (
            self.spark.table(self._tbl("ranks"))
            .where(F.col("iter") == l)
            .toPandas()
        )
        ranks = np.zeros(n, dtype=np.float64)
        ranks[pdf["v"].to_numpy()] = pdf["rank"].to_numpy()
        vaff = movers = None
        for name in ("frontier", "movers"):
            tbl = self._tbl(name)
            if self.spark.catalog.tableExists(tbl):
                sub = self.spark.table(tbl).where(F.col("iter") == l).toPandas()
                if len(sub):
                    arr = np.zeros(n, dtype=bool)
                    arr[sub["v"].to_numpy()] = True
                    if name == "frontier":
                        vaff = arr
                    else:
                        movers = arr
        return l, ranks, vaff, movers, meta
