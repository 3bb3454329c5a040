"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Sections:
  scaling   — BSP static PageRank on a ~25M-edge dense transcript-topology
              graph at local[cpus/4] THEN local[cpus] (fresh session each):
              median superstep, edges/s, N→4N efficiency (BASELINE.json rule)
  dynamic   — ND (BSP warm start), DF, DF-P per insert-batch vs static
              recompute on the updated graph (README.md:21 regime)
  ops       — operator suite over the sf tables: entity-edge derivation,
              converged PageRank, CC, triangles, minhash dedup, ANN top-k,
              token stats
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import numpy as np

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BENCH_CONVS = int(os.environ.get("SPARK_GRAFT_BENCH_CONVS", "200000"))
HOPS = int(os.environ.get("SPARK_GRAFT_BENCH_HOPS", "8"))
SEED = 42


def _mk_spark(cpus: int, name: str):
    from pagerank_cuda_dynamic_spark.session import get_spark

    s = get_spark(
        app_name=name,
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    s.sparkContext.setLogLevel("ERROR")
    return s


def _median_steady(steps: list[float]) -> float:
    """Steady-state superstep seconds: median (drops memmap warm-up and GC
    stragglers that pollute the mean)."""
    return float(np.median(np.asarray(steps))) if steps else float("nan")


def bsp_static_run(spark, n_conv: int, hops: int):
    from pagerank_cuda_dynamic_spark.sources.bench_graph import dense_transcript_graph
    from pagerank_cuda_dynamic_spark.plans import GraphSnapshot
    from pagerank_cuda_dynamic_spark.operators.pagerank import PagerankOptions
    from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import pagerank_static_bsp

    e, n = dense_transcript_graph(spark, n_conv, adjacency_hops=hops, seed=SEED)
    g = GraphSnapshot.build(e, n=n, partitions=spark.sparkContext.defaultParallelism)
    m = g.edges.count()
    res = pagerank_static_bsp(g, PagerankOptions())
    return g, m, res


def section_scaling(results: dict) -> None:
    # The per-loop superstep median is stable WITHIN a run (75+ samples) but
    # host/JVM state drifts ACROSS runs by ±20%, which whipsaws the N→4N
    # efficiency ratio when N and 4N are measured minutes apart.  So the
    # section runs PAIRED repeats — each repeat measures local[N] then
    # local[4N] back-to-back (fresh session each) — and the efficiency is
    # the median of the per-pair ratios: drift that moves both members of a
    # pair cancels; every raw value is recorded in the JSON.
    # 10 paired repeats by default: the round-3 verdict asked for the
    # N→4N efficiency as a median over ≥10 pairs + IQR, not a 3-draw point
    repeats = int(os.environ.get("SPARK_GRAFT_SCALING_REPEATS", "10"))
    lo_cpus = max(CPUS // 4, 1)
    meds: dict[int, list[float]] = {lo_cpus: [], CPUS: []}
    runs: dict[int, list[dict]] = {lo_cpus: [], CPUS: []}
    firsts: dict[int, dict] = {}
    for rep in range(repeats):
        for cpus in (lo_cpus, CPUS):
            spark = _mk_spark(cpus, f"bench-scale-{cpus}-r{rep}")
            g, m, res = bsp_static_run(spark, BENCH_CONVS, HOPS)
            med = _median_steady(res.superstep_seconds)
            meds[cpus].append(med)
            runs[cpus].append(
                {
                    "median_superstep_sec": round(med, 4),
                    "mean_superstep_sec": round(float(np.mean(res.superstep_seconds)), 4),
                    "loop_wall_sec": round(res.time, 1),
                    # wall split (r4 verdict: pack regression was invisible
                    # inside the single wall number): pack = stripe-CSR
                    # build, setup = memmap init + barrier dispatch,
                    # loop = Σ worker-timed supersteps
                    "pack_sec": round(res.pack_seconds, 2),
                    "setup_sec": round(res.setup_seconds, 2),
                    "loop_sec": round(float(np.sum(res.superstep_seconds)), 2),
                }
            )
            if rep == 0:
                firsts[cpus] = {"edges": m, "vertices": g.n, "iterations": res.iterations}
                results["queries"][f"pagerank_bsp_static_local{cpus}"] = round(res.time, 2)
            g.unpersist()
            spark.stop()
    stats = {}
    for cpus in (lo_cpus, CPUS):
        med = float(np.median(meds[cpus]))
        stats[cpus] = {
            **firsts[cpus],
            "median_superstep_sec": round(med, 4),
            "mean_superstep_sec": runs[cpus][0]["mean_superstep_sec"],
            "edges_per_sec_per_superstep": round(firsts[cpus]["edges"] / med, 0),
            "loop_wall_sec": runs[cpus][0]["loop_wall_sec"],
            "pack_sec": runs[cpus][0]["pack_sec"],
            "setup_sec": runs[cpus][0]["setup_sec"],
            "loop_sec": runs[cpus][0]["loop_sec"],
        }
        if repeats > 1:
            stats[cpus]["repeat_runs"] = runs[cpus]
        print(f"# scaling local[{cpus}]: {stats[cpus]}", file=sys.stderr)
    ratios = [
        (meds[lo_cpus][i] / meds[CPUS][i]) / (CPUS / lo_cpus) for i in range(repeats)
    ]
    eff = float(np.median(ratios))
    results["scaling"] = {
        "n_cores": lo_cpus,
        "n4_cores": CPUS,
        "scaling_repeats": repeats,
        "pair_ratios": [round(r, 3) for r in ratios],
        "stats": stats,
        "efficiency_median_superstep": round(eff, 3),
        "efficiency_iqr": [
            round(float(np.percentile(ratios, 25)), 3),
            round(float(np.percentile(ratios, 75)), 3),
        ],
    }
    results["edges_per_sec_per_superstep"] = stats[CPUS]["edges_per_sec_per_superstep"]
    print(f"# scaling efficiency: pairs={[round(r,3) for r in ratios]} median={eff:.3f}", file=sys.stderr)
    # host-roofline context: the same gather+reduceat+rewrite kernel as a
    # pure-numpy pinned-process replay (no Spark/JVM/sync machinery beyond
    # one barrier per superstep).  The N→4N ratio above is bounded by the
    # HOST's own scaling on this kernel (one LLC + one memory controller
    # shared by every core — a real 4N-executor cluster multiplies memory
    # systems with executors); engine_fraction ≈ 1.0 at a core count means
    # the engine sits AT that hardware ceiling there.
    if os.environ.get("SPARK_GRAFT_ROOFLINE", "1") != "0":
        import shutil

        from tools.micro_gather_scaling import SHM, build_stripes, measure

        try:
            meta = build_stripes()
            roof_rows = []
            frac = {}
            for cpus in (lo_cpus, CPUS):
                row = measure(cpus, meta)
                roof_rows.append(row)
                frac[str(cpus)] = round(
                    stats[cpus]["edges_per_sec_per_superstep"] / row["edges_per_sec"], 3
                )
            results["scaling"]["roofline"] = {
                "kernel": "pure-numpy pinned replay (tools/micro_gather_scaling.py)",
                "rows": roof_rows,
                "engine_fraction_of_roofline": frac,
            }
            print(f"# roofline: {results['scaling']['roofline']}", file=sys.stderr)
        finally:
            shutil.rmtree(SHM, ignore_errors=True)


def section_scaling_2proc(results: dict) -> None:
    """Executor-scaling analog this sandbox CAN measure (r4 verdict task #3):
    the same full-size STATIC loop on local-cluster[1,16,MB] (one executor
    JVM) vs local-cluster[2,16,MB] (two executor JVMs, each with its own
    heap + python workers), paired back-to-back so host drift cancels.
    Per-process efficiency = (med_superstep_1proc / med_superstep_2proc)/2.
    Each executor brings its own JVM heap/GC — the closest this one box
    gets to "executors bring their own memory"; the DRAM bus stays shared,
    so this bounds the scheduler/JVM contribution to the N→4N ratio,
    complementing the pure-numpy roofline that bounds the hardware's.
    Runs BOTH loop flavors: BSP (memmap exchange on /dev/shm — same-host
    multi-JVM) and TCP ring (socket exchange — the true cross-node path)."""
    from pyspark.sql import SparkSession

    from pagerank_cuda_dynamic_spark.sources.bench_graph import dense_transcript_graph
    from pagerank_cuda_dynamic_spark.plans import GraphSnapshot
    from pagerank_cuda_dynamic_spark.operators.pagerank import PagerankOptions
    from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import pagerank_static_bsp
    from pagerank_cuda_dynamic_spark.operators.pagerank_tcp import pagerank_static_tcp

    repeats = int(os.environ.get("SPARK_GRAFT_2PROC_REPEATS", "3"))
    convs = int(os.environ.get("SPARK_GRAFT_2PROC_CONVS", str(BENCH_CONVS)))
    worker_mb = int(os.environ.get("SPARK_GRAFT_2PROC_MB", "10240"))
    # Executor-count rung is configurable so one campaign can also record
    # the literal N->4N EXECUTOR step (PROCS=1,4 CORES=8: one 8-core JVM
    # vs four 8-core JVMs) — the default stays the r4 verdict's 1-vs-2.
    p_lo, p_hi = (
        int(x) for x in os.environ.get("SPARK_GRAFT_2PROC_PROCS", "1,2").split(",")
    )
    cores = int(os.environ.get("SPARK_GRAFT_2PROC_CORES", "16"))
    meds: dict = {p: {p_lo: [], p_hi: []} for p in ("bsp", "tcp")}
    info: dict = {}
    failures: list = []
    for rep in range(repeats):
        for nproc in (p_lo, p_hi):
            master = f"local-cluster[{nproc},{cores},{worker_mb}]"
            spark = (
                SparkSession.builder.master(master)
                .appName(f"bench-2proc-{nproc}p-r{rep}")
                .config("spark.sql.shuffle.partitions", str(cores * nproc))
                .config("spark.executor.memory", f"{worker_mb * 3 // 4}m")
                .config(
                    "spark.executorEnv.PYTHONPATH",
                    str(Path(__file__).resolve().parent),
                )
                .config("spark.ui.showConsoleProgress", "false")
                .getOrCreate()
            )
            spark.sparkContext.setLogLevel("ERROR")
            try:
                e, n = dense_transcript_graph(
                    spark, convs, adjacency_hops=HOPS, seed=SEED
                )
                g = GraphSnapshot.build(
                    e, n=n, partitions=spark.sparkContext.defaultParallelism
                )
                m = g.edges.count()
                for path in ("bsp", "tcp"):
                    # one timed-out ring run (lost peer -> 300 s recv timeout
                    # -> unrecoverable barrier stage) must not sink the whole
                    # suite record: score the run as None and keep going; pair
                    # ratios below skip incomplete pairs.
                    try:
                        res = (
                            pagerank_static_bsp(g, PagerankOptions())
                            if path == "bsp"
                            else pagerank_static_tcp(g)
                        )
                    except Exception as exc:  # noqa: BLE001 — record + continue
                        meds[path][nproc].append(None)
                        failures.append(
                            {"rep": rep, "nproc": nproc, "path": path,
                             "error": repr(exc)[:300]}
                        )
                        print(
                            f"# 2proc {path} rep={rep} nproc={nproc} FAILED: "
                            f"{exc!r}"[:200],
                            file=sys.stderr,
                        )
                        continue
                    med = _median_steady(res.superstep_seconds)
                    meds[path][nproc].append(med)
                    if rep == 0:
                        info.setdefault(path, {})[str(nproc)] = {
                            "master": master,
                            "edges": m,
                            "iterations": res.iterations,
                            "median_superstep_sec": round(med, 4),
                            "edges_per_sec_per_superstep": round(m / med, 0),
                        }
                g.unpersist()
            finally:
                spark.stop()
    out: dict = {
        "repeats": repeats,
        "procs": [p_lo, p_hi],
        "cores_per_executor": cores,
        "paths": {},
    }
    if failures:
        out["failed_runs"] = failures
    step = p_hi / p_lo
    for path in ("bsp", "tcp"):
        ratios = [
            (meds[path][p_lo][i] / meds[path][p_hi][i]) / step
            for i in range(repeats)
            if i < len(meds[path][p_lo]) and i < len(meds[path][p_hi])
            and meds[path][p_lo][i] is not None and meds[path][p_hi][i] is not None
        ]
        out["paths"][path] = {
            **info.get(path, {}),
            "pair_ratios": [round(r, 3) for r in ratios],
            "per_process_efficiency_median": (
                round(float(np.median(ratios)), 3) if ratios else None
            ),
            "complete_pairs": len(ratios),
        }
        print(
            f"# 2proc {path}: pairs={[round(r, 3) for r in ratios]} "
            + (f"median={np.median(ratios):.3f}" if ratios else "median=NA"),
            file=sys.stderr,
        )
    results["scaling_2proc"] = out


def section_dynamic(spark, results: dict) -> None:
    import pyspark.sql.functions as F

    from pagerank_cuda_dynamic_spark.sources.bench_graph import dense_transcript_graph
    from pagerank_cuda_dynamic_spark.plans import GraphSnapshot
    from pagerank_cuda_dynamic_spark.operators.graph import tidy_batch
    from pagerank_cuda_dynamic_spark.operators.pagerank import PagerankOptions
    from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import (
        pagerank_dynamic_frontier_bsp,
        pagerank_dynamic_frontier_prune_bsp,
        pagerank_static_bsp,
    )

    n_conv = max(BENCH_CONVS, 1000)
    e, n = dense_transcript_graph(spark, n_conv, adjacency_hops=HOPS, seed=SEED)
    g = GraphSnapshot.build(e, n=n)
    m = g.edges.count()
    base = pagerank_static_bsp(g, PagerankOptions())
    results["queries"]["dyn_base_static"] = round(base.time, 2)

    import pandas as pd

    def med_loop(res):
        # robust loop-time estimate: median superstep × iterations (wall
        # sums are straggler-noisy on a shared host)
        return float(np.median(res.superstep_seconds) * res.iterations)

    rng = np.random.default_rng(SEED)
    empty = spark.createDataFrame(
        pd.DataFrame({"src": [], "dst": []}).astype("int64"),
        schema="src long, dst long",
    )
    results["dynamic"] = {
        "edges": m,
        "regime": "single insert-only batch per fraction at full bench size",
        "by_fraction": {},
    }
    for frac in (1e-4, 1e-5):
        k = max(int(frac * m), 10)
        ins_pdf = pd.DataFrame(
            {
                "src": rng.integers(0, n, k).astype(np.int64),
                "dst": rng.integers(0, n, k).astype(np.int64),
            }
        )
        dels, ins = tidy_batch(g.edges, empty, spark.createDataFrame(ins_pdf))
        # materialize the tidied batch ONCE — the tidy plan probes the
        # |E| table, so every lazy re-reference would repay that scan
        # (explicit schema: an all-duplicate draw tidies to ZERO rows and
        # schema inference would raise on the empty frame)
        ins = spark.createDataFrame(ins.toPandas(), schema="src long, dst long")
        g2 = g.with_batch(dels, ins, repartition=False)
        t0 = time.time()
        g2.bsp_packed()  # delta pack: O(batch + touched stripes)
        t_pack = time.time() - t0

        t0 = time.time()
        s2 = pagerank_static_bsp(g2, PagerankOptions())
        t_static = time.time() - t0
        t0 = time.time()
        nd = pagerank_static_bsp(g2, PagerankOptions(), q=base.ranks)
        t_nd = time.time() - t0
        t0 = time.time()
        df_res = pagerank_dynamic_frontier_bsp(g, g2, dels, ins, base.ranks)
        t_df = time.time() - t0
        t0 = time.time()
        dfp_res = pagerank_dynamic_frontier_prune_bsp(g, g2, dels, ins, base.ranks)
        t_dfp = time.time() - t0
        if frac == 1e-4:  # headline keys keep round-over-round continuity
            results["queries"]["dyn_static_recompute"] = round(t_static, 2)
            results["queries"]["dyn_nd"] = round(t_nd, 2)
            results["queries"]["dyn_df"] = round(t_df, 2)
            results["queries"]["dyn_dfp"] = round(t_dfp, 2)
        row = {
            "batch_size": int(ins.count()),
            # pack is ONE-OFF per graph version, shared by all four
            # techniques below (static/nd/df/dfp reuse the cached pack)
            "pack_sec": round(t_pack, 2),
            "static_loop_sec": round(sum(s2.superstep_seconds), 3),
            "nd_loop_sec": round(sum(nd.superstep_seconds), 3),
            "df_loop_sec": round(sum(df_res.superstep_seconds), 3),
            "dfp_loop_sec": round(sum(dfp_res.superstep_seconds), 3),
            "static_loop_med_sec": round(med_loop(s2), 3),
            "nd_loop_med_sec": round(med_loop(nd), 3),
            "df_loop_med_sec": round(med_loop(df_res), 3),
            "dfp_loop_med_sec": round(med_loop(dfp_res), 3),
            "nd_err_linf": float(np.abs(nd.ranks - s2.ranks).max()),
            "df_err_linf": float(np.abs(df_res.ranks - s2.ranks).max()),
            "dfp_err_linf": float(np.abs(dfp_res.ranks - s2.ranks).max()),
            "df_iterations": df_res.iterations,
            "df_affected_initial": df_res.affected_initial,
            "df_speedup_vs_static_loop": round(med_loop(s2) / max(med_loop(df_res), 1e-9), 2),
            "dfp_speedup_vs_static_loop": round(med_loop(s2) / max(med_loop(dfp_res), 1e-9), 2),
        }
        results["dynamic"]["by_fraction"][f"{frac:.0e}"] = row
        if frac == 1e-4:
            results["dynamic"].update(row)  # legacy flat keys (r1 compat)
        print(f"# dynamic full-size {frac:.0e}: df {row['df_speedup_vs_static_loop']}x "
              f"dfp {row['dfp_speedup_vs_static_loop']}x", file=sys.stderr)
        g2.unpersist()
    g.unpersist()


def section_dynamic_sweep(spark, results: dict) -> None:
    """The reference's batch regime (main.sh:21,54–56; _utility.hxx:113–119):
    insert batches of {1e-5, 1e-4, 1e-3}·|E|, many batches per fraction,
    per-technique loop seconds aggregated as the MEDIAN over batches (the
    repeat-averaging analog; per-batch wall sums are straggler-noisy on a
    shared host).  Default: quarter bench size so 21 batches fit the bench
    budget (the structural speedups are size-independent — loop cost scales
    with |affected|, static with |E|); SPARK_GRAFT_SWEEP_CONVS=200000 with
    SPARK_GRAFT_DYN_BATCHES=100 reproduces the reference's regime at full
    graph scale for the committed campaign records."""
    import pandas as pd

    from pagerank_cuda_dynamic_spark.sources.bench_graph import dense_transcript_graph
    from pagerank_cuda_dynamic_spark.plans import GraphSnapshot
    from pagerank_cuda_dynamic_spark.operators.graph import tidy_batch
    from pagerank_cuda_dynamic_spark.operators.pagerank import PagerankOptions
    from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import (
        pagerank_dynamic_frontier_bsp,
        pagerank_dynamic_frontier_prune_bsp,
        pagerank_static_bsp,
    )

    # SPARK_GRAFT_SWEEP_CONVS overrides the quarter-size default so the
    # 100-batch campaign can run at the full bench graph (main.sh:21 regime
    # at the 26.9M-edge size) without touching the default suite budget
    n_conv = int(
        os.environ.get("SPARK_GRAFT_SWEEP_CONVS", str(max(BENCH_CONVS // 4, 2000)))
    )
    n_batches = int(os.environ.get("SPARK_GRAFT_DYN_BATCHES", "7"))
    # SPARK_GRAFT_SWEEP_FRACS lets a long campaign resume fraction-by-
    # fraction after an interruption (records are merged by fraction key)
    fractions = [
        float(f)
        for f in os.environ.get("SPARK_GRAFT_SWEEP_FRACS", "1e-5,1e-4,1e-3").split(",")
    ]
    e, n = dense_transcript_graph(spark, n_conv, adjacency_hops=HOPS, seed=SEED)
    g = GraphSnapshot.build(e, n=n)
    m = g.edges.count()
    base = pagerank_static_bsp(g, PagerankOptions())
    empty = spark.createDataFrame(
        pd.DataFrame({"src": [], "dst": []}).astype("int64"),
        schema="src long, dst long",
    )
    sweep: dict = {
        "edges": m,
        "vertices": g.n,
        "batches_per_fraction": n_batches,
        "loop_metric": "median over batches of sum(superstep_seconds)",
        "by_fraction": {},
    }
    # SPARK_GRAFT_SWEEP_RAW names a JSONL sidecar that gets one line per
    # completed batch; on restart, batches already present are replayed
    # from the file instead of re-run, so a killed campaign loses at most
    # the batch in flight (batch draws are seed-deterministic either way)
    raw_path = os.environ.get("SPARK_GRAFT_SWEEP_RAW")
    raw_done: dict = {}
    if raw_path and os.path.exists(raw_path):
        with open(raw_path) as fh:
            for line in fh:
                row = json.loads(line)
                raw_done[(row["frac"], row["b"])] = row
    for frac in fractions:
        k = max(int(frac * m), 5)
        per: dict = {t: [] for t in ("static", "nd", "df", "dfp")}
        iters: dict = {t: [] for t in ("static", "nd", "df", "dfp")}
        errs: list = []
        for b in range(n_batches):
            prev = raw_done.get((f"{frac:.0e}", b))
            if prev is not None:
                for t in per:
                    per[t].append(prev["per"][t])
                    iters[t].append(prev["iters"][t])
                errs.extend(prev["errs"])
                continue
            # seed by canonical fraction position so a resumed partial
            # campaign draws the same batches as an uninterrupted one
            frac_slot = (
                [1e-5, 1e-4, 1e-3].index(frac)
                if frac in (1e-5, 1e-4, 1e-3)
                else fractions.index(frac)
            )
            rng = np.random.default_rng(SEED + 1000 * frac_slot + b)
            ins_pdf = pd.DataFrame(
                {
                    "src": rng.integers(0, n, k).astype(np.int64),
                    "dst": rng.integers(0, n, k).astype(np.int64),
                }
            )
            dels, ins = tidy_batch(g.edges, empty, spark.createDataFrame(ins_pdf))
            # one tidy probe; explicit schema survives an empty tidied batch
            ins = spark.createDataFrame(ins.toPandas(), schema="src long, dst long")
            g2 = g.with_batch(dels, ins, repartition=False)
            g2.bsp_packed()  # delta pack once, outside the timed loops
            runs = {
                "static": lambda: pagerank_static_bsp(g2, PagerankOptions()),
                "nd": lambda: pagerank_static_bsp(g2, PagerankOptions(), q=base.ranks),
                "df": lambda: pagerank_dynamic_frontier_bsp(g, g2, dels, ins, base.ranks),
                "dfp": lambda: pagerank_dynamic_frontier_prune_bsp(g, g2, dels, ins, base.ranks),
            }
            ranks_static = None
            b_errs: list = []
            for tech, fn in runs.items():
                res = fn()
                per[tech].append(float(np.sum(res.superstep_seconds)))
                iters[tech].append(res.iterations)
                if tech == "static":
                    ranks_static = res.ranks
                else:
                    b_errs.append(float(np.abs(res.ranks - ranks_static).max()))
            errs.extend(b_errs)
            g2.unpersist()
            if raw_path:
                with open(raw_path, "a") as fh:
                    fh.write(json.dumps({
                        "frac": f"{frac:.0e}",
                        "b": b,
                        "per": {t: per[t][-1] for t in per},
                        "iters": {t: iters[t][-1] for t in iters},
                        "errs": b_errs,
                    }) + "\n")
        med = {t: float(np.median(per[t])) for t in per}
        sweep["by_fraction"][f"{frac:.0e}"] = {
            "batch_size": k,
            "static_med_loop_sec": round(med["static"], 4),
            "nd_med_loop_sec": round(med["nd"], 4),
            "df_med_loop_sec": round(med["df"], 4),
            "dfp_med_loop_sec": round(med["dfp"], 4),
            "nd_speedup_vs_static": round(med["static"] / max(med["nd"], 1e-9), 2),
            "df_speedup_vs_static": round(med["static"] / max(med["df"], 1e-9), 2),
            "dfp_speedup_vs_static": round(med["static"] / max(med["dfp"], 1e-9), 2),
            "iterations_med": {t: float(np.median(iters[t])) for t in iters},
            "max_err_linf": max(errs) if errs else None,
        }
        print(f"# sweep {frac:.0e}: {sweep['by_fraction'][f'{frac:.0e}']}", file=sys.stderr)
    results["dynamic_sweep"] = sweep
    g.unpersist()


def section_tcp(results: dict) -> None:
    """Cross-node exchange evidence: the TCP ring-allgather loop (no shared
    filesystem — rendezvous + peer sockets only) at local[CPUS], plus a true
    two-JVM run on local-cluster[2,...] when the sandbox allows standalone
    workers.  Python workers are separate processes even in local mode, so
    the loopback ring is already inter-process; the local-cluster run adds
    separate executor JVMs."""
    from pyspark.sql import SparkSession

    from pagerank_cuda_dynamic_spark.sources.bench_graph import dense_transcript_graph
    from pagerank_cuda_dynamic_spark.plans import GraphSnapshot
    from pagerank_cuda_dynamic_spark.operators.pagerank_tcp import pagerank_static_tcp

    import pandas as pd

    from pagerank_cuda_dynamic_spark.operators.graph import tidy_batch
    from pagerank_cuda_dynamic_spark.operators.pagerank_tcp import (
        pagerank_dynamic_frontier_prune_tcp,
    )

    def dyn_tcp(spark, g, base_ranks, m):
        """DF-P over the TCP ring on a 1e-4·|E| insert batch (the cross-node
        dynamic evidence: mover/update segments ride the ring)."""
        rng = np.random.default_rng(SEED + 7)
        k = max(int(1e-4 * m), 10)
        ins_pdf = pd.DataFrame(
            {
                "src": rng.integers(0, g.n, k).astype(np.int64),
                "dst": rng.integers(0, g.n, k).astype(np.int64),
            }
        )
        empty = spark.createDataFrame(
            pd.DataFrame({"src": [], "dst": []}).astype("int64"),
            schema="src long, dst long",
        )
        dels, ins = tidy_batch(g.edges, empty, spark.createDataFrame(ins_pdf))
        g2 = g.with_batch(dels, ins)
        res = pagerank_dynamic_frontier_prune_tcp(g, g2, dels, ins, base_ranks)
        med = _median_steady(res.superstep_seconds)
        g2.unpersist()
        return {
            "batch_size": k,
            "iterations": res.iterations,
            "median_superstep_sec": round(med, 4),
        }

    spark = _mk_spark(CPUS, "bench-tcp")
    try:
        e, n = dense_transcript_graph(
            spark, max(BENCH_CONVS // 4, 2000), adjacency_hops=HOPS, seed=SEED
        )
        g = GraphSnapshot.build(e, n=n)
        m = g.edges.count()
        t0 = time.time()
        res = pagerank_static_tcp(g)
        results["queries"]["pagerank_tcp_static"] = round(time.time() - t0, 2)
        med = _median_steady(res.superstep_seconds)
        results["tcp"] = {
            "edges": m,
            "vertices": g.n,
            "iterations": res.iterations,
            "median_superstep_sec": round(med, 4),
            "edges_per_sec_per_superstep": round(m / med, 0),
        }
        t0 = time.time()
        results["tcp"]["dfp_dynamic"] = dyn_tcp(spark, g, res.ranks, m)
        results["queries"]["pagerank_tcp_dfp"] = round(time.time() - t0, 2)
        g.unpersist()
    finally:
        spark.stop()
    # two-JVM graph size/master are overridable so the full bench graph can
    # run cross-JVM (SPARK_GRAFT_TCP_2PROC_CONVS=BENCH_CONVS): at 200k
    # convs the ring then carries the full 53 MB |V|·8B rank vector per
    # iteration between separate executor JVMs
    tcp2_convs = int(
        os.environ.get("SPARK_GRAFT_TCP_2PROC_CONVS", str(max(BENCH_CONVS // 16, 1000)))
    )
    tcp2_master = os.environ.get(
        "SPARK_GRAFT_TCP_2PROC_MASTER", "local-cluster[2,8,4096]"
    )
    # local-cluster[n,cores,MB] sizes the WORKER pool only; executor JVMs
    # still launch at the 1g default and heap-OOM caching the full bench
    # graph — request (worker MB - 25% headroom) explicitly
    worker_mb = int(tcp2_master.rstrip("]").split(",")[-1])
    exec_mb = os.environ.get(
        "SPARK_GRAFT_TCP_2PROC_EXEC_MB", str(max(worker_mb * 3 // 4, 1024))
    )
    try:
        spark2 = (
            SparkSession.builder.master(tcp2_master)
            .appName("bench-tcp-2proc")
            .config("spark.sql.shuffle.partitions", "16")
            .config("spark.executor.memory", f"{exec_mb}m")
            .config("spark.executorEnv.PYTHONPATH", str(Path(__file__).resolve().parent))
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate()
        )
        spark2.sparkContext.setLogLevel("ERROR")
        e, n = dense_transcript_graph(
            spark2, tcp2_convs, adjacency_hops=HOPS, seed=SEED
        )
        g2 = GraphSnapshot.build(e, n=n)
        m2 = g2.edges.count()
        res2 = pagerank_static_tcp(g2)
        med2 = _median_steady(res2.superstep_seconds)
        results["tcp"]["two_process"] = {
            "master": tcp2_master,
            "edges": m2,
            "iterations": res2.iterations,
            "median_superstep_sec": round(med2, 4),
            "edges_per_sec_per_superstep": round(m2 / med2, 0),
        }
        # cross-JVM dynamic: DF-P's mover/update ring on two executor JVMs
        results["tcp"]["two_process"]["dfp_dynamic"] = dyn_tcp(
            spark2, g2, res2.ranks, m2
        )
        g2.unpersist()
        spark2.stop()
    except Exception as ex:  # standalone workers unavailable in some sandboxes
        results["tcp"]["two_process"] = {"error": str(ex)[:200]}
    print(f"# tcp: {results['tcp']}", file=sys.stderr)


def section_ops(spark, results: dict) -> None:
    import pyspark.sql.functions as F

    from pagerank_cuda_dynamic_spark.sources.edges import derive_entity_edges, edges_from_events
    from pagerank_cuda_dynamic_spark.plans import build_vertex_dictionary, encode_edges, GraphSnapshot
    from pagerank_cuda_dynamic_spark.operators.pagerank import PagerankOptions
    from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import pagerank_static_bsp
    from pagerank_cuda_dynamic_spark.operators.components import (
        connected_components_joinagg,
        triangle_count,
    )
    from pagerank_cuda_dynamic_spark.operators.components_bsp import (
        connected_components_bsp,
    )
    from pagerank_cuda_dynamic_spark.operators.dedup import minhash_dedup_pairs
    from pagerank_cuda_dynamic_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )
    from pagerank_cuda_dynamic_spark.operators.text import (
        chunk_documents,
        text_scrub,
        token_stats,
    )

    def timed(name, fn):
        t0 = time.time()
        out = fn()
        results["queries"][name] = round(time.time() - t0, 2)
        return out

    def build_graph():
        e = derive_entity_edges(spark, SF_DIR)
        d = build_vertex_dictionary(e, src="src", dst="dst").persist()
        n = d.count()
        return GraphSnapshot.build(encode_edges(e, d, src="src", dst="dst"), n=n)

    g = timed("entity_graph_build", build_graph)
    timed("pagerank_converged_bsp", lambda: pagerank_static_bsp(g, PagerankOptions()))
    timed("triangles", lambda: triangle_count(g.edges.where(F.col("src") != F.col("dst"))).collect())

    def cc():
        et = edges_from_events(spark, SF_DIR).select("src", "dst").distinct()
        d = build_vertex_dictionary(et, src="src", dst="dst")
        n = d.count()
        return connected_components_bsp(encode_edges(et, d, src="src", dst="dst"), n)

    timed("connected_components", cc)

    def cc_joinagg():
        et = edges_from_events(spark, SF_DIR).select("src", "dst").distinct()
        d = build_vertex_dictionary(et, src="src", dst="dst")
        n = d.count()
        return connected_components_joinagg(
            encode_edges(et, d, src="src", dst="dst"), n
        ).count()

    timed("cc_joinagg", cc_joinagg)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    timed("minhash_dedup", lambda: minhash_dedup_pairs(docs, threshold=0.5).count())
    timed("token_stats", lambda: token_stats(docs).agg(F.sum("n_bpe_tokens")).collect())
    timed("text_scrub", lambda: text_scrub(docs).agg(F.sum("n_redactions")).collect())
    timed(
        "doc_chunks",
        lambda: chunk_documents(docs).agg(F.sum("n_tokens")).collect(),
    )
    from pagerank_cuda_dynamic_spark.operators.sampling import dsir_importance

    timed(
        "dsir_weights",
        lambda: dsir_importance(
            docs, F.col("source").isin("src1", "src2", "src3")
        )
        .agg(F.sum("dsir_score"))
        .collect(),
    )
    from pagerank_cuda_dynamic_spark.operators.dedup import line_dedup
    from pagerank_cuda_dynamic_spark.operators.temporal import asof_join, session_stats

    timed(
        "line_dedup",
        lambda: line_dedup(docs.select("doc_id", "text"))
        .agg(F.sum(F.length("text")))
        .collect(),
    )
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    timed(
        "sessionize",
        lambda: session_stats(ev).agg(F.sum("n_events")).collect(),
    )
    timed(
        "asof_join",
        lambda: asof_join(
            ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts"),
            ev.where(F.col("event_type") == "purchase").select("user_id", "ts", "value"),
        ).count(),
    )
    from pagerank_cuda_dynamic_spark.operators.centrality import k_core
    from pagerank_cuda_dynamic_spark.sources.edges import derive_entity_edges

    timed(
        "k_core_30",
        lambda: k_core(derive_entity_edges(spark, SF_DIR), k=30, max_rounds=6)
        .agg(F.sum("deg"))
        .collect(),
    )
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    timed("ann_topk", lambda: brute_force_topk(emb, k=10).count())
    timed(
        "ann_ivf_topk",
        lambda: ivf_topk(emb, k=10, n_cells=64, n_probe=4, lloyd_iters=2).count(),
    )
    from pagerank_cuda_dynamic_spark.operators.walks import (
        deterministic_walks,
        sample_neighbors,
    )

    ent = derive_entity_edges(spark, SF_DIR).select("src", "dst").persist()
    ent.count()
    starts = ent.select("src").where(F.col("src").like("c%")).distinct().limit(20000)
    timed(
        "walk_corpus",
        lambda: deterministic_walks(ent, starts, steps=4).count(),
    )
    timed("neighbor_sample", lambda: sample_neighbors(ent, k=5).count())
    from pagerank_cuda_dynamic_spark.operators.components import local_clustering
    from pagerank_cuda_dynamic_spark.operators.features import (
        explode_features,
        propagate_features,
    )

    timed(
        "local_clustering",
        lambda: local_clustering(
            edges_from_events(spark, SF_DIR).select("src", "dst").distinct()
        ).agg(F.sum("tri")).collect(),
    )

    def feat_prop():
        verts = (
            ent.select(F.col("src").alias("v"))
            .unionByName(ent.select(F.col("dst").alias("v")))
            .distinct()
        )
        n_emb = emb.count()
        vmap = verts.select(
            "v",
            (F.conv(F.substring(F.md5("v"), 1, 15), 16, 10).cast("long") % n_emb).alias(
                "vec_id"
            ),
        )
        feats = explode_features(
            vmap.join(F.broadcast(emb.select("vec_id", "embedding")), "vec_id").select(
                "v", "embedding"
            ),
            "v",
            "embedding",
        )
        return propagate_features(ent, feats, hops=2, include_self=True).count()

    timed("feature_propagation", feat_prop)
    from pagerank_cuda_dynamic_spark.operators.centrality import betweenness

    timed(
        "betweenness_c20",
        lambda: betweenness(
            ent,
            ent.select("src").where(F.col("src").rlike("^c1?[0-9]$")).distinct(),
            max_depth=4,
        ).count(),
    )
    from pagerank_cuda_dynamic_spark.operators.centrality import (
        eigenvector_centrality,
    )
    from pagerank_cuda_dynamic_spark.operators.graph import closeness_centrality

    timed(
        "closeness_c100",
        lambda: closeness_centrality(
            ent,
            ent.select("src").where(F.col("src").rlike("^c[0-9]{1,2}$")).distinct(),
        ).count(),
    )
    timed(
        "eigenvector_20",
        lambda: eigenvector_centrality(
            edges_from_events(spark, SF_DIR).select("src", "dst").distinct(), 20
        ).count(),
    )
    from pagerank_cuda_dynamic_spark.operators.centrality import coreness
    from pagerank_cuda_dynamic_spark.operators.components import (
        connected_components_incremental,
        triangle_count_incremental,
    )

    timed("coreness_6", lambda: coreness(ent, rounds=6).count())
    from pagerank_cuda_dynamic_spark.operators.components import louvain_moves

    timed("louvain_4", lambda: louvain_moves(ent, rounds=4).count())

    def cc_inc():
        h = F.conv(
            F.substring(F.md5(F.concat_ws("|", "src", "dst")), 1, 15), 16, 10
        ).cast("long")
        base = ent.where(F.pmod(h, F.lit(5)) != 0)
        batch = ent.where(F.pmod(h, F.lit(5)) == 0)
        bverts = (
            base.select(F.col("src").alias("v"))
            .unionByName(base.select(F.col("dst").alias("v")))
            .distinct()
        )
        labels = connected_components_joinagg(base, vertices=bverts)
        return connected_components_incremental(labels, batch).count()

    timed("cc_incremental", cc_inc)

    def tri_inc():
        h = F.conv(
            F.substring(F.md5(F.concat_ws("|", "src", "dst")), 1, 15), 16, 10
        ).cast("long")
        # event transition graph: the entity graph is near-bipartite
        # (triangle-free), so the delta machinery would short-circuit
        e = edges_from_events(spark, SF_DIR).select("src", "dst").distinct()
        return triangle_count_incremental(
            e.where(F.pmod(h, F.lit(4)) != 0), e.where(F.pmod(h, F.lit(4)) == 0)
        ).collect()

    timed("triangles_incremental", tri_inc)
    from pagerank_cuda_dynamic_spark.operators.sketches import heavy_hitters
    from pagerank_cuda_dynamic_spark.operators.webgraph import contract_graph

    def host_graph():
        customer = spark.read.parquet(f"{SF_DIR}/customer.parquet")
        supplier = spark.read.parquet(f"{SF_DIR}/supplier.parquet")
        part = spark.read.parquet(f"{SF_DIR}/part.parquet")
        mapping = (
            customer.select(
                F.concat(F.lit("c"), F.col("c_custkey")).alias("v"),
                F.concat(F.lit("n"), F.col("c_nationkey")).alias("g"),
            )
            .unionByName(
                supplier.select(
                    F.concat(F.lit("s"), F.col("s_suppkey")).alias("v"),
                    F.concat(F.lit("n"), F.col("s_nationkey")).alias("g"),
                )
            )
            .unionByName(
                part.select(
                    F.concat(F.lit("p"), F.col("p_partkey")).alias("v"),
                    F.concat(F.lit("b:"), F.col("p_brand")).alias("g"),
                )
            )
        )
        return contract_graph(ent, mapping).count()

    timed("host_graph", host_graph)

    def hh_tokens():
        from pagerank_cuda_dynamic_spark.functions import tokens as _tok

        t = docs.select(F.explode(_tok("text")).alias("token"))
        return heavy_hitters(t, "token", k=64).count()

    timed("heavy_hitter_tokens", hh_tokens)
    from pagerank_cuda_dynamic_spark.operators.components import k_truss
    from pagerank_cuda_dynamic_spark.operators.text import lm_score
    from pagerank_cuda_dynamic_spark.operators.webgraph import (
        distance_distribution,
        rich_club,
    )

    timed("rich_club", lambda: rich_club(ent, max_k=40).count())
    timed(
        "distance_distribution",
        lambda: distance_distribution(ent, rounds=3, k=32).count(),
    )
    timed(
        "lm_score",
        lambda: lm_score(docs).agg(F.sum("n_bigrams")).collect(),
    )

    def truss():
        li = (
            spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
            .select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("p"))
            .distinct()
        )
        co = (
            li.join(li.withColumnRenamed("p", "p2"), "k")
            .where(F.col("p") < F.col("p2"))
            .select(F.col("p").alias("src"), F.col("p2").alias("dst"))
            .distinct()
        )
        return k_truss(co, k=12, rounds=6).count()

    timed("k_truss", truss)
    ent.unpersist()
    g.unpersist()

    # Full registry sweep (r4 verdict task #4 generalized): EVERY queries()
    # entry gets a wall row under its registry name, so a perf regression in
    # any driver-facing query is visible per round.  Each call is the exact
    # entry the correctness gate verifies, run at the bench SF.  Heavy
    # parameterized twins already timed above under variant names are
    # aliased, not re-run; a query error records an ERR row instead of
    # killing the section.
    import __spark_entry__ as entrymod

    aliased = {
        "louvain": "louvain_4",
        "coreness": "coreness_6",
        "betweenness": "betweenness_c20",
        "closeness": "closeness_c100",
        "pagerank_converged": "pagerank_converged_bsp",
    }
    for qname, qfn in entrymod.queries().items():
        if qname in results["queries"] or aliased.get(qname) in results["queries"]:
            continue
        t0 = time.time()
        try:
            qfn(spark, SF_DIR).count()
            results["queries"][qname] = round(time.time() - t0, 2)
        except Exception as exc:  # noqa: BLE001 — one bad query ≠ lost section
            results["queries"][qname] = f"ERR:{exc!r}"[:120]


def main() -> None:
    t_all = time.time()
    # Section gating for local iteration (the driver always runs the full
    # suite): SPARK_GRAFT_BENCH_SECTIONS=sweep python bench.py reruns just
    # the dynamic sweep (e.g. with a higher SPARK_GRAFT_DYN_BATCHES).
    sections = set(
        os.environ.get(
            "SPARK_GRAFT_BENCH_SECTIONS", "scaling,scaling2p,dynamic,sweep,ops,tcp"
        ).split(",")
    )
    results: dict = {"queries": {}}

    def guarded(name: str, fn, stop_leaked: bool = True) -> None:
        """A crashed section (e.g. a lost ring peer -> unrecoverable barrier
        stage) must not abort the suite: the driver parses the LAST stdout
        line, so the record has to emit no matter what.  Record the error,
        stop any session the section leaked (unless it shares the caller's),
        and move on."""
        try:
            fn()
        except Exception as exc:  # noqa: BLE001 — any section error is recorded
            results.setdefault("section_errors", {})[name] = repr(exc)[:500]
            print(f"# SECTION {name} FAILED: {exc!r}"[:300], file=sys.stderr)
            if stop_leaked:
                try:
                    from pyspark.sql import SparkSession

                    active = SparkSession.getActiveSession()
                    if active is not None:
                        active.stop()
                except Exception:
                    pass

    if "scaling" in sections:
        guarded("scaling", lambda: section_scaling(results))
    if "scaling2p" in sections:
        guarded("scaling2p", lambda: section_scaling_2proc(results))
    if sections & {"dynamic", "sweep", "ops"}:
        spark = _mk_spark(CPUS, "bench-main")
        try:
            if "dynamic" in sections:
                guarded("dynamic", lambda: section_dynamic(spark, results),
                        stop_leaked=False)
            if "sweep" in sections:
                guarded("sweep", lambda: section_dynamic_sweep(spark, results),
                        stop_leaked=False)
            if "ops" in sections:
                guarded("ops", lambda: section_ops(spark, results),
                        stop_leaked=False)
        finally:
            spark.stop()
    if "tcp" in sections:
        guarded("tcp", lambda: section_tcp(results))
    full = {
        "metric": "headline_suite_seconds",
        "value": round(time.time() - t_all, 1),
        "unit": "sec",
        "queries": results["queries"],
        "sf": SF_DIR,
        "cpus": CPUS,
        "edges_per_sec_per_superstep": results.get("edges_per_sec_per_superstep"),
        "scaling": results.get("scaling"),
        "scaling_2proc": results.get("scaling_2proc"),
        "dynamic": results.get("dynamic"),
        "dynamic_sweep": results.get("dynamic_sweep"),
        "tcp": results.get("tcp"),
        "section_errors": results.get("section_errors"),
    }
    # Full document to a file (the driver's stdout tail buffer is finite —
    # round 2's one-line dump outgrew it and BENCH_r02.json landed with
    # parsed:null).  The LAST stdout line stays a compact headline.
    bench_dir = Path(__file__).resolve().parent / "BENCH"
    bench_dir.mkdir(exist_ok=True)
    (bench_dir / "latest_full.json").write_text(json.dumps(full, indent=1))
    print(f"# full bench document: {bench_dir / 'latest_full.json'}", file=sys.stderr)

    scaling = results.get("scaling") or {}
    dyn = results.get("dynamic") or {}
    sweep = (results.get("dynamic_sweep") or {}).get("by_fraction", {})
    tcp = results.get("tcp") or {}
    compact = {
        "metric": "headline_suite_seconds",
        "value": full["value"],
        "unit": "sec",
        "queries": results["queries"],
        "sf": SF_DIR,
        "cpus": CPUS,
        "edges_per_sec_per_superstep": results.get("edges_per_sec_per_superstep"),
        "scaling_efficiency": scaling.get("efficiency_median_superstep"),
        # context for the single-box N->4N ratio: the engine's throughput as a
        # fraction of a pure-numpy pinned replay of the same kernel at the same
        # core count (~1.0 = at the HOST's own memory-system ceiling; see
        # BENCH/BASELINE.md scaling section for the full analysis)
        "engine_fraction_of_host_roofline": (scaling.get("roofline") or {}).get(
            "engine_fraction_of_roofline"
        ),
        # two-executor-JVM static scaling (each JVM its own heap):
        # per-process efficiency medians for the BSP and TCP loops
        "scaling_2proc_efficiency": {
            p: row.get("per_process_efficiency_median")
            for p, row in ((results.get("scaling_2proc") or {}).get("paths") or {}).items()
        },
        "dynamic_speedups": {
            f: {
                "df": row.get("df_speedup_vs_static_loop"),
                "dfp": row.get("dfp_speedup_vs_static_loop"),
                "err_linf": row.get("df_err_linf"),
            }
            for f, row in (dyn.get("by_fraction") or {}).items()
        },
        "sweep_speedups": {
            f: {"nd": row.get("nd_speedup_vs_static"),
                "df": row.get("df_speedup_vs_static"),
                "dfp": row.get("dfp_speedup_vs_static")}
            for f, row in sweep.items()
        },
        "tcp_edges_per_sec": tcp.get("edges_per_sec_per_superstep"),
        "section_errors": results.get("section_errors"),
        "full_document": "BENCH/latest_full.json",
    }
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
