"""Deterministic dense vertex dictionary — entity string → id ∈ [0, N).

The reference remaps sparse vertex keys to dense device indices through an
unordered_map built from the key scan (pagerankCuda.hxx:765–775 `ksMap`,
csr.hxx:213–222).  Here one Spark query brings the distinct entity strings
to the driver through Arrow, and `np.unique` numbers them by sorted rank:
deterministic across runs and parallelism (never
monotonically_increasing_id, which is partition-layout-dependent).  Python
orders str by code point, the order of Spark's UTF-8 binary string
comparison, so the ids are the entities' sorted rank in Spark too.

Premise: |V| fits the driver, the one the engine already makes for the
rank vector, outdeg_array and bsp_pack's degree histogram.  The dictionary
comes back as a driver-built (v, entity) DataFrame, which encode_edges
broadcasts.  attach_global_seq numbers ROWS (|E| of them, the temporal
cursors) and so never collects: range-partition → per-partition
row_number → broadcast offsets."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def build_vertex_dictionary(edges: DataFrame, src: str = "src_entity", dst: str = "dst_entity") -> DataFrame:
    """(v:long, entity:string), ids dense [0,N) over sorted distinct keys.
    A null endpoint is a ValueError naming how many there are."""
    return number_entities(
        edges.select(F.col(src).alias("entity")).unionByName(
            edges.select(F.col(dst).alias("entity"))
        )
    )


def number_entities(entities: DataFrame, first: int = 0) -> DataFrame:
    """(v:long, entity:string) over the distinct values of the string
    column `entity`, v = first + sorted rank.  One Spark query collects the
    distinct values with their multiplicity, so a null is reported by the
    number of rows that hold it instead of taking an id of its own."""
    pdf = entities.groupBy("entity").count().toPandas()
    null = pdf["entity"].isna()
    if null.any():
        raise ValueError(
            f"{int(pdf['count'][null].sum())} edge endpoint(s) are null; "
            "every endpoint needs an entity string"
        )
    names = np.unique(pdf["entity"].to_numpy(object))
    ids = np.arange(first, first + names.size, dtype=np.int64)
    return entities.sparkSession.createDataFrame(
        pd.DataFrame({"v": ids, "entity": names}), "v long, entity string"
    )


def attach_global_seq(df: DataFrame, order_cols: list[str], out_col: str = "seq") -> DataFrame:
    """Global 0-based arrival index under a total order, by a two-phase
    scheme (range partition → local row_number → broadcast offsets).
    Equals ROW_NUMBER() OVER (ORDER BY order_cols) - 1 when the order keys
    are unique, with no single-task global window.  Range
    partitioning keeps equal keys together, so ties never split across the
    offset boundary.  Materialized once (localCheckpoint) so the counts and
    numbering jobs share one set of sampled range boundaries."""
    p = df.sparkSession.sparkContext.defaultParallelism
    parts = df.repartitionByRange(p, *[F.col(c) for c in order_cols])
    with_pid = parts.withColumn("__pid", F.spark_partition_id()).localCheckpoint(eager=True)
    counts = with_pid.groupBy("__pid").count()
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "__pid", F.coalesce(F.sum("count").over(w_off), F.lit(0)).alias("__off")
    )
    w_local = Window.partitionBy("__pid").orderBy(*order_cols)
    return (
        with_pid.withColumn("__local", F.row_number().over(w_local) - 1)
        .join(F.broadcast(offsets), "__pid")
        .withColumn(out_col, (F.col("__off") + F.col("__local")).cast("long"))
        .drop("__pid", "__local", "__off")
    )


def encode_edges(
    edges: DataFrame,
    dictionary: DataFrame,
    src: str = "src_entity",
    dst: str = "dst_entity",
    keep: tuple[str, ...] = (),
    broadcast: bool = True,
) -> DataFrame:
    """Entity-keyed edges → dense (src:long, dst:long[, *keep]).

    Two hash joins against the dictionary; `broadcast=True` (default)
    hints the dictionary side — right whenever |V| fits the broadcast
    budget.  Past it pass broadcast=False: the joins become shuffle joins
    on the entity key (same plan shape, Catalyst/AQE picks the strategy
    from measured sizes)."""
    src_map = dictionary.select(
        F.col("entity").alias("__src_ent"), F.col("v").alias("__src_id")
    )
    dst_map = dictionary.select(
        F.col("entity").alias("__dst_ent"), F.col("v").alias("__dst_id")
    )
    if broadcast:
        src_map, dst_map = F.broadcast(src_map), F.broadcast(dst_map)
    out = (
        edges.join(src_map, F.col(src) == F.col("__src_ent"))
        .join(dst_map, F.col(dst) == F.col("__dst_ent"))
    )
    return out.select(
        F.col("__src_id").alias("src"), F.col("__dst_id").alias("dst"), *keep
    )
