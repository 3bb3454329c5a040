"""spark-submit entry point (north rule: `spark-submit --py-files` run).

Usage:
  spark-submit --py-files pagerank_cuda_dynamic_spark.zip \
      pagerank_cuda_dynamic_spark/cli.py \
      --transcripts /path/to/transcripts_parquet \
      --technique dfp --out /path/to/ranks_out \
      --checkpoint-dir /path/to/ckpt [--batches 5]

Or synthesize input: --synthesize 10000 (conversations, seed 42).
Reads the transcript table, derives the entity link graph, runs the chosen
PageRank technique over temporal batches with checkpointing, writes the
final (entity, rank) table as parquet.  `--algo cc|lpa` writes (entity,
component|label) instead: the barrier label loop under the default
`--exchange memmap`, join/aggregate rounds under `--exchange tcp`.

The reference's own input files run directly (no transcript stage):
  --input-mtx graph.mtx                # static run over a MatrixMarket file
  --input-temporal sx-stackoverflow.txt --technique dfp --batches 100
                                       # main.cu:79–147's prefix-batch regime
Output for text-graph inputs is (vertex, rank) in the file's own id space.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    src_group = ap.add_mutually_exclusive_group()
    src_group.add_argument("--transcripts", help="parquet path of the transcript table")
    src_group.add_argument("--synthesize", type=int, default=0,
                           help="synthesize N conversations instead")
    src_group.add_argument("--input-mtx", default=None,
                           help="MatrixMarket graph file (the reference's static input; "
                                "ids reported 1-indexed as in the file)")
    src_group.add_argument("--input-temporal", default=None,
                           help="SNAP temporal edge file (the reference's dynamic input: "
                                "line order is the batch cursor, main.cu:83)")
    ap.add_argument("--technique", default="static",
                    choices=["static", "nd", "dt", "df", "dfp"])
    ap.add_argument("--algo", default="pagerank",
                    choices=["pagerank", "cc", "lpa"],
                    help="pagerank (default) or CC / LPA labels")
    ap.add_argument("--exchange", default="memmap", choices=["memmap", "tcp"],
                    help="platform: shared memmaps (single node / shared FS: "
                         "BSP loops) or no shared filesystem (static PageRank "
                         "on the TCP ring, CC / LPA as join/aggregate rounds)")
    ap.add_argument("--batches", type=int, default=0,
                    help="temporal batches after a 90%% base prefix (0 = single static run)")
    ap.add_argument("--out", required=True, help="output parquet path for (entity, rank)")
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--damping", type=float, default=0.85)
    ap.add_argument("--tolerance", type=float, default=1e-10)
    ap.add_argument("--max-iterations", type=int, default=500)
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args(argv)

    import numpy as np
    import pandas as pd
    import pyspark.sql.functions as F
    from pyspark.sql import SparkSession

    from pagerank_cuda_dynamic_spark.sources.transcripts import (
        read_transcripts,
        synthesize_transcripts,
    )
    from pagerank_cuda_dynamic_spark.sources.edges import derive_edges_from_transcripts
    from pagerank_cuda_dynamic_spark.plans.dictionary import (
        build_vertex_dictionary,
        encode_edges,
    )
    from pagerank_cuda_dynamic_spark.plans.graph_snapshot import GraphSnapshot
    from pagerank_cuda_dynamic_spark.operators.pagerank import PagerankOptions
    from pagerank_cuda_dynamic_spark.streaming.checkpoint import CheckpointManager
    from pagerank_cuda_dynamic_spark.streaming.driver import (
        pagerank_checkpointed,
        run_temporal_batches,
    )

    spark = SparkSession.builder.getOrCreate()  # configured by spark-submit
    t0 = time.time()
    # Text-graph inputs keep the file's own id space as the dense span
    # (readMtxIfW / readTemporalOmpW size vertex arrays by the raw id range,
    # never compacting ids) — no entity dictionary involved.
    d = None  # entity dictionary; None for numeric text-graph inputs
    id_shift = 0  # added back onto vertex ids in the output
    if args.input_mtx:
        from pagerank_cuda_dynamic_spark.sources.textgraph import (
            read_mtx,
            read_mtx_header,
        )

        if args.batches > 0:
            ap.error("--batches needs a temporal input (--input-temporal / --transcripts)")
        hdr = read_mtx_header(args.input_mtx)
        enc = read_mtx(spark, args.input_mtx, zero_index=True, header=hdr).select("src", "dst")
        n = max(hdr.rows, hdr.cols)
        id_shift = 1  # back to the file's 1-indexed ids on output
    elif args.input_temporal:
        from pagerank_cuda_dynamic_spark.sources.textgraph import read_snap_temporal

        enc = read_snap_temporal(spark, args.input_temporal)
        # span (n) is derived lazily only where needed — the --batches
        # regime derives it inside run_temporal_batches, so the primary
        # 63M-line workflow never pays an extra max-id scan here
        n = None
    else:
        if args.synthesize:
            t = synthesize_transcripts(spark, n_conversations=args.synthesize, seed=args.seed)
        elif args.transcripts:
            t = read_transcripts(spark, args.transcripts)
        else:
            ap.error("one of --transcripts / --synthesize / --input-mtx / --input-temporal required")

        ent = derive_edges_from_transcripts(t)
        d = build_vertex_dictionary(ent).persist()
        n = d.count()
        enc = encode_edges(ent, d, keep=("ts",))
    opts = PagerankOptions(
        damping=args.damping, tolerance=args.tolerance, max_iterations=args.max_iterations
    )

    if args.algo in ("cc", "lpa"):
        from pagerank_cuda_dynamic_spark.operators.components import (
            connected_components_joinagg,
            label_propagation_joinagg,
        )
        from pagerank_cuda_dynamic_spark.operators.components_bsp import (
            connected_components_bsp,
            label_propagation_bsp,
        )

        if n is None:
            row = enc.agg(F.greatest(F.max("src"), F.max("dst")).alias("m")).collect()[0]
            if row["m"] is None:
                ap.error(f"no edge records in --input-temporal file {args.input_temporal!r}")
            n = int(row["m"]) + 1
        val = "component" if args.algo == "cc" else "label"
        e = enc.select("src", "dst")
        if args.exchange == "tcp":
            fn = connected_components_joinagg if args.algo == "cc" else label_propagation_joinagg
            out_df = fn(e, n)
        else:
            fn = connected_components_bsp if args.algo == "cc" else label_propagation_bsp
            out_df = spark.createDataFrame(
                pd.DataFrame({"v": np.arange(n, dtype=np.int64), val: fn(e, n)})
            )
        if d is None:
            # numeric text-graph input: labels are vertex ids — report both
            # in the file's own id space
            out = out_df.select(
                (F.col("v") + id_shift).alias("vertex"),
                (F.col(val) + id_shift).alias(val),
            )
        else:
            out = (
                out_df.join(d, "v")
                .join(
                    d.withColumnRenamed("v", val).withColumnRenamed("entity", f"{val}_entity"),
                    val,
                )
                .select("entity", F.col(f"{val}_entity").alias(val))
            )
        out.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"algo": args.algo, "total_seconds": round(time.time() - t0, 1), "out": args.out}))
        return 0

    if args.batches > 0:
        if args.input_temporal:
            edges_seq = enc.select("src", "dst", "seq")  # file order IS the cursor
        else:
            from pagerank_cuda_dynamic_spark.plans.dictionary import attach_global_seq

            edges_seq = attach_global_seq(
                enc.select("src", "dst", "ts"), ["ts", "src", "dst"]
            ).select("src", "dst", "seq")
        ranks, metrics = run_temporal_batches(
            spark,
            edges_seq,
            n_batches=args.batches,
            technique=args.technique,
            opts=opts,
            ckpt_root=args.checkpoint_dir,
        )
        for m in metrics:
            print(json.dumps(m.__dict__), file=sys.stderr)
    else:
        g = GraphSnapshot.build(enc.select("src", "dst"), n=n)
        if g.n == 0:
            ap.error("input graph has no edge records")
        if args.exchange == "tcp":
            from pagerank_cuda_dynamic_spark.operators.pagerank_tcp import (
                pagerank_static_tcp,
            )

            res = pagerank_static_tcp(g, opts)
        elif args.checkpoint_dir:
            ckpt = CheckpointManager(spark, args.checkpoint_dir)
            res = pagerank_checkpointed(g, ckpt, opts)
        else:
            from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import (
                pagerank_static_bsp,
            )

            res = pagerank_static_bsp(g, opts)
        ranks = res.ranks
        print(
            json.dumps({"iterations": res.iterations, "seconds": res.time}),
            file=sys.stderr,
        )

    pdf = pd.DataFrame({"v": np.arange(len(ranks), dtype=np.int64), "rank": ranks})
    rdf = spark.createDataFrame(pdf)
    if d is None:
        out = rdf.select((F.col("v") + id_shift).alias("vertex"), "rank")
    else:
        out = rdf.join(d, "v").select("entity", "rank")
    out.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"total_seconds": round(time.time() - t0, 1), "out": args.out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
