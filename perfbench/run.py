"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload stream-dfp --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout of the repository.  One process drives
`local[<cpus>]` through `session.get_spark` in a closed loop with one
client: the next operation starts only after the previous one's result is
in hand and has passed its oracle.  The run sets the workload up SETUPS
times (each set-up ends with one warm-up operation) and reports the median
set-up, then runs operations until `--seconds` seconds of wall time have
passed and at least MIN_OPS have run.

With `--trace 0` the last line of standard output is a JSON object whose
metrics are the end-to-end metrics of BENCHMARK.json; the lines before it
print the workload's own figures by name.  With `--trace 1` every other
operation runs inside layer spans and the metrics are the per-layer ones;
the spans go to `perfbench/.work/`.  README.md describes both.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "pagerank_cuda_dynamic_spark"
# The first operation after the warm-up still runs about 20 % slower than
# the next ones.  With at least three operations the median does not hang
# on it, nor on whether a run fits two or three.
MIN_OPS = 3
# A single set-up is one sample of a cold JVM and a busy host; the median
# of three is steadier.  Their warm-up operations also warm the operation's
# code paths: the first components run after a cold start took 8.5 s on a
# 4-core host, the next ones about 3 s, and later ones less again.
SETUPS = 3

# Per-layer spans: the set-up's calls, then an operation's, in call order.
# A layer a workload never calls reports 0.
SPANS = (
    "graph_snapshot.build",
    "pagerank_bsp.pack",
    "pagerank_bsp.static",
    "graph.tidy_batch",
    "graph_snapshot.with_batch",
    "pagerank_bsp.delta_pack",
    "pagerank_bsp.dfp",
    "checkpoint.save",
    "dictionary.build",
    "dictionary.encode",
    "components_bsp.cc",
)
COUNTS = ("jobs", "stages", "tasks", "failed_tasks")
# Values the workloads read off the package's results, per set-up or op.
RESULT_LAYERS = (
    "graph.tidy_kept_ratio",
    "pagerank_bsp.dfp.pre_loop_s",
    "pagerank_bsp.dfp.affected_ratio",
    *(
        f"pagerank_bsp.{call}.{name}"
        for call in ("static", "dfp")
        for name in ("setup_s", "loop_s", "superstep_p50_s", "iterations")
    ),
    "checkpoint.bytes",
)


T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - T0:6.1f} s] {msg}", file=sys.stderr, flush=True)


def _spill_dirs() -> set[str]:
    """The package's BSP scratch and spill directories (see
    pagerank_bsp._scratch_dir), which live in tmpfs when it exists."""
    base = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    return set(glob.glob(os.path.join(base, "pr_bsp_*")))


def _stop_spark(spark, descendants) -> None:
    """Stop Spark, then end the JVM it launched and wait until that JVM and
    the pyspark daemon and workers under it have exited."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while descendants(os.getpid()):
        if time.monotonic() > deadline:
            raise RuntimeError("Spark processes outlived the run")
        time.sleep(0.1)


def _cpus() -> int:
    """Spark's task slots: half the cores this process may use (its
    affinity mask, capped by a cgroup CPU quota when there is one).  The
    other half runs this driver process, the JVM's own threads and the
    pyspark workers the tasks feed; with a slot per core they contend
    with the tasks, and the run measures the scheduler."""
    n = len(os.sched_getaffinity(0))
    try:
        with open("/sys/fs/cgroup/cpu.max") as fh:
            quota, period = fh.read().split()
        if quota != "max":
            n = min(n, max(1, int(quota) // int(period)))
    except (OSError, ValueError):
        pass
    return max(1, n // 2)


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _layer_metrics(tracer, units: dict) -> dict:
    """Each layer's self time, Spark work counts and result-derived values,
    as the median over the traced set-ups or operations that have them,
    plus the operations' own self time."""
    rows: dict[str, dict] = {}
    for s in tracer.spans:
        row = rows.setdefault(s.op, {})
        if s.name == "op":
            if s.op.startswith("op-"):
                row["op.self_s"] = tracer.self_seconds(s)
            continue
        row[f"{s.name}_s"] = row.get(f"{s.name}_s", 0.0) + tracer.self_seconds(s)
        for c in COUNTS:
            key = f"{s.name}.{c}"
            row[key] = row.get(key, 0) + s.counts[c]
    for unit_id, row in rows.items():
        row.update(units[unit_id].layer)
    names = ["op.self_s"]
    for span in SPANS:
        names.append(f"{span}_s")
        names.extend(f"{span}.{c}" for c in COUNTS)
    names.extend(RESULT_LAYERS)
    return {
        name: (_median(row[name] for row in rows.values() if name in row), _unit(name))
        for name in names
    }


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ratio"):
        return "ratio"
    if name.endswith(".bytes"):
        return "bytes"
    return "count"


def _print_table(title: str, rows: dict) -> None:
    print(title)
    for name, (value, unit) in rows.items():
        print(f"  {name:<40} {value:>16.6g} {unit}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ package beside {HERE}", file=sys.stderr)
        return 2
    # Spark's Python workers import the package too; they inherit the
    # environment, not this interpreter's sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # a bounded driver heap keeps the run small on a shared host and its
    # peak memory steady from run to run
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    # the package sizes its partitions by this count; os.cpu_count() would
    # see every core of the host, not the ones this process may use
    cpus = _cpus()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    sys.path[:0] = [ROOT, HERE]

    import tracing
    import workloads
    from pagerank_cuda_dynamic_spark.session import get_spark

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work")
    run_dir = os.path.join(work, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    spills_before = _spill_dirs()

    with tracing.RssSampler(interval=0.2) as rss:
        # the BSP loops run one barrier task per partition, so partitions
        # may not outnumber the local cores
        spark = get_spark(
            app_name="perfbench",
            master=f"local[{cpus}]",
            shuffle_partitions=cpus,
            extra_conf={
                "spark.local.dir": os.path.join(run_dir, "spark-local"),
                "spark.ui.showConsoleProgress": "false",
                # the heap is committed and touched at start, so the peak
                # memory of a run does not hang on how far the collector
                # happened to grow the heap
                "spark.driver.extraJavaOptions": (
                    f"-Xms{os.environ['SPARK_DRIVER_MEM']} -XX:+AlwaysPreTouch"
                ),
            },
        )
        try:
            spark.sparkContext.setLogLevel("ERROR")
            tracer = tracing.Tracer(spark.sparkContext, enabled=bool(args.trace))
            wl = workloads.WORKLOADS[args.workload](spark, args.seed, tracer, run_dir)
            _log(f"{args.workload} seed={args.seed}: inputs ready")

            units: dict = {}  # the set-ups and the operations by trace id
            attempted = failed = 0
            for k in range(1, SETUPS + 1):
                su = units[f"setup-{k}"] = wl.setup(k)
                attempted += 1
                failed += not su.ok
                _log(f"set-up {k}: {su.seconds:.2f} s, ok={su.ok}")
            setup_s = statistics.median(u.seconds for u in units.values())

            # a traced run alternates traced and untraced operations so that
            # it measures its own overhead
            min_ops = MIN_OPS + args.trace
            i, t_end = 1, time.perf_counter() + args.seconds
            while time.perf_counter() < t_end or len(wl.ops) < min_ops:
                tracer.enabled = bool(args.trace) and i % 2 == 1
                attempted += 1
                try:
                    op = units[f"op-{i}"] = wl.op(i)
                except Exception as exc:  # counted as a failed operation
                    _log(f"op {i} raised {exc!r}")
                    failed += 1
                    break
                failed += not op.ok
                _log(f"op {i}: {op.seconds:.2f} s, ok={op.ok}")
                i += 1
            tracer.enabled = False
            wl.close()
            if not wl.ops:
                return 1
            figures = wl.figures()
        finally:
            _stop_spark(spark, tracing.descendants)

    leaked = sorted(_spill_dirs() - spills_before)
    if leaked:
        _log(f"spill directories survived the run: {leaked}")
        failed += 1

    op_secs = [o.seconds for o in wl.ops]
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(op_secs), "s"),
        "peak_rss_mb": (rss.peak_kb / 1024.0, "MB"),
    }
    _print_table(
        f"{args.workload} seed={args.seed}: {len(op_secs)} operations in "
        f"{sum(op_secs):.2f} s after set-up, local[{cpus}], "
        f"failed_ratio {failed}/{attempted}",
        {**figures, **end_to_end},
    )

    if args.trace:
        metrics = _layer_metrics(tracer, units)
        traced = [o.seconds for k, o in units.items() if k.startswith("op-") and int(k[3:]) % 2]
        untraced = [o.seconds for k, o in units.items() if k.startswith("op-") and not int(k[3:]) % 2]
        metrics["trace.overhead_ratio"] = (_median(traced) / _median(untraced) - 1.0, "ratio")
        trace_path = os.path.join(work, f"spans-{args.workload}-{args.seed}.jsonl")
        tracer.write(trace_path)
        _print_table(
            f"per layer: the median of {SETUPS} traced set-ups and of {len(traced)} traced "
            f"operations; overhead against {len(untraced)} untraced ({trace_path})",
            metrics,
        )
    else:
        metrics = end_to_end

    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
