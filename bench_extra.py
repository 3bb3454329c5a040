"""Extra benchmarks for optimization work (bench.py is FROZEN for the
driver's measurement; every number quoted in OPTIMIZATION_r06.md that is
not a bench.py row comes from here).

Subcommands:
  pack                      — phase-profile bsp_pack + the BSP static loop
                              at the bench graph size (SPARK_GRAFT_BENCH_CONVS)
  q <name> [name ...]       — time registry queries exactly as bench.py's
                              registry sweep does (`.count()`), with
                              SPARK_GRAFT_QREPEATS repeats (default 1)
  explain <name> [...]      — write `.explain('formatted')` of a registry
                              query's frame to plans/r06/<name>_<tag>.txt
                              (tag from SPARK_GRAFT_PLAN_TAG, default 'cur')

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as in bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BENCH_CONVS = int(os.environ.get("SPARK_GRAFT_BENCH_CONVS", "200000"))
HOPS = int(os.environ.get("SPARK_GRAFT_BENCH_HOPS", "8"))
SEED = 42


def _mk_spark(name: str):
    from pagerank_cuda_dynamic_spark.session import get_spark

    s = get_spark(
        app_name=name,
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    s.sparkContext.setLogLevel("ERROR")
    return s


def cmd_pack() -> None:
    import numpy as np
    import pyspark.sql.functions as F

    from pagerank_cuda_dynamic_spark.sources.bench_graph import dense_transcript_graph
    from pagerank_cuda_dynamic_spark.plans import GraphSnapshot
    from pagerank_cuda_dynamic_spark.operators.pagerank import PagerankOptions
    from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import (
        STRIPE_EDGES,
        pagerank_static_bsp,
    )

    spark = _mk_spark("bench-extra-pack")
    out: dict = {"convs": BENCH_CONVS, "cpus": CPUS}
    t0 = time.time()
    e, n = dense_transcript_graph(spark, BENCH_CONVS, adjacency_hops=HOPS, seed=SEED)
    g = GraphSnapshot.build(e, n=n, partitions=spark.sparkContext.defaultParallelism)
    m = g.edges.count()
    out["graph_build_sec"] = round(time.time() - t0, 2)
    out["edges"] = m
    out["vertices"] = n

    # phase replica of bsp_pack's pre-route work (same plans, timed apart)
    p = spark.sparkContext.defaultParallelism
    hub_cut = max(4.0 * m / max(p, 1), 64)
    t0 = time.time()
    hub_pdf = (
        g.edges.groupBy(F.col("dst").alias("v"))
        .agg(F.count(F.lit(1)).alias("indeg"))
        .where(F.col("indeg") > hub_cut)
        .select("v")
        .toPandas()
    )
    out["phase_hub_agg_sec"] = round(time.time() - t0, 2)
    hubs = np.sort(hub_pdf["v"].to_numpy().astype(np.int64))
    out["n_hubs"] = int(hubs.size)
    k = max(1, min(16, round(m / p / STRIPE_EDGES)))
    n_target = p * k
    if hubs.size and hubs.size <= 4096:
        nonhub = g.edges.where(~F.col("dst").isin([int(h) for h in hubs]))
    else:
        nonhub = g.edges
    t0 = time.time()
    cuts = nonhub.select("dst").approxQuantile(
        "dst", [i / n_target for i in range(1, n_target)], 0.001
    )
    out["phase_quantile_sec"] = round(time.time() - t0, 2)
    out["n_cuts"] = len(cuts)

    # full pack (route + mapInPandas + spill), then loop
    t0 = time.time()
    g.bsp_packed()
    out["pack_total_sec"] = round(time.time() - t0, 2)
    t0 = time.time()
    res = pagerank_static_bsp(g, PagerankOptions())
    out["static_wall_sec"] = round(time.time() - t0, 2)
    out["static_pack_sec"] = round(res.pack_seconds, 2)
    out["static_setup_sec"] = round(res.setup_seconds, 2)
    out["static_loop_sec"] = round(float(np.sum(res.superstep_seconds)), 2)
    out["iterations"] = res.iterations
    out["median_superstep_sec"] = round(float(np.median(res.superstep_seconds)), 4)
    g.unpersist()
    spark.stop()
    print(json.dumps(out))


def cmd_q(names: list[str]) -> None:
    import __spark_entry__ as entrymod

    repeats = int(os.environ.get("SPARK_GRAFT_QREPEATS", "1"))
    spark = _mk_spark("bench-extra-q")
    qs = entrymod.queries()
    out: dict = {}
    for name in names:
        if name not in qs:
            out[name] = "UNKNOWN"
            continue
        walls = []
        for _ in range(repeats):
            t0 = time.time()
            try:
                qs[name](spark, SF_DIR).count()
                walls.append(round(time.time() - t0, 2))
            except Exception as exc:  # noqa: BLE001
                out[name] = f"ERR:{exc!r}"[:200]
                break
        else:
            out[name] = walls if repeats > 1 else walls[0]
        print(f"# {name}: {out[name]}", file=sys.stderr)
    spark.stop()
    print(json.dumps(out))


def cmd_explain(names: list[str]) -> None:
    import __spark_entry__ as entrymod

    tag = os.environ.get("SPARK_GRAFT_PLAN_TAG", "cur")
    plans_dir = Path(__file__).resolve().parent / "plans" / "r06"
    plans_dir.mkdir(parents=True, exist_ok=True)
    spark = _mk_spark("bench-extra-explain")
    qs = entrymod.queries()
    for name in names:
        df = qs[name](spark, SF_DIR)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        (plans_dir / f"{name}_{tag}.txt").write_text(txt)
        print(f"# wrote plans/r06/{name}_{tag}.txt", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "pack"
    if cmd == "pack":
        cmd_pack()
    elif cmd == "q":
        cmd_q(sys.argv[2:])
    elif cmd == "explain":
        cmd_explain(sys.argv[2:])
    else:
        raise SystemExit(f"unknown subcommand {cmd!r}")
