"""Benchmark entry point.

    python3 perfbench/run.py --workload serve-zipf --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Builds nothing outside the checkout: Spark's
scratch space, the native codec's compile directory, temp files and the
cached base indexes all live under WORK_DIR. The last line of stdout is one
JSON object: {"correct", "attempted", "failed", "metrics"}; `--trace 0`
reports the end-to-end metrics, `--trace 1` the per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_DIR = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, ROOT)


def declared_units(trace: bool) -> dict[str, str]:
    """Name -> unit of the metrics BENCHMARK.json declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def environment(spark) -> dict:
    import numpy
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "pyspark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
        "numpy": numpy.__version__,
    }


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import grenad_spark  # noqa: F401  the program under test
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import bases

    if args.workload not in bases.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {bases.WORKLOADS}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK_DIR, f"run-{os.getpid()}")
    cache_dir = os.path.join(WORK_DIR, "cache")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("spark", "native", "tmp"):
        os.makedirs(os.path.join(run_dir, d))
    os.makedirs(cache_dir, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark")
    os.environ["GRENAD_SPARK_NATIVE_DIR"] = os.path.join(run_dir, "native")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    units = declared_units(bool(args.trace))
    try:
        result = run(args, run_dir, cache_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    metrics = result["metrics"]
    if set(metrics) != set(units):
        print(f"perfbench: metrics {sorted(set(metrics) ^ set(units))} do not match BENCHMARK.json", file=sys.stderr)
        return 1
    out = dict(result["out"])
    out["metrics"] = {k: {"value": float(metrics[k]), "unit": units[k]} for k in sorted(metrics)}
    print(json.dumps(result["info"], sort_keys=True))
    print(json.dumps(out))
    return 0


def run(args, run_dir: str, cache_dir: str) -> dict:
    import numpy as np

    from grenad_spark.functions import native
    from grenad_spark.index.build import IndexHandle
    from perfbench import bases, layers, session, workloads
    from perfbench.procs import peak_rss_mb
    from perfbench.trace import Tracer

    base = bases.open_base(args.workload, cache_dir, ROOT, os.path.join(run_dir, "build"))
    t_setup = time.perf_counter()
    spark = session.start(os.path.join(run_dir, "tmp"))
    try:
        spark.range(1).collect()
        session_start_s = time.perf_counter() - t_setup
        t = time.perf_counter()
        native_loaded = native.lib() is not None  # compiles into the per-run dir
        native_compile_s = time.perf_counter() - t

        tracer = Tracer(spark, enabled=bool(args.trace))
        streams = workloads.Streams(args.workload, base, np.random.default_rng(args.seed))
        idx = IndexHandle(base.index_dir)
        t = time.perf_counter()
        idx.df_map(spark)
        df_map_s = time.perf_counter() - t
        t = time.perf_counter()
        warm = workloads.warm_up(spark, idx, streams)
        warm_s = time.perf_counter() - t
        setup_s = time.perf_counter() - t_setup

        loop = workloads.timed_loop(spark, idx, streams, args.seconds, tracer)
        rss = peak_rss_mb()

        t = time.perf_counter()
        ops = warm + loop.ops
        reference = base.reference()
        failed = workloads.check(ops, reference)
        check_s = time.perf_counter() - t
        extra_ops = 0
        if args.trace:
            probes = layers.Probes(spark, tracer, idx, streams, reference, run_dir)
            metrics, extra_ops, extra_failed = probes.collect(
                loop,
                session_start_s=session_start_s,
                native_loaded=native_loaded,
                native_compile_s=native_compile_s,
                df_map_s=df_map_s,
                peak_rss_mb=rss,
            )
            failed += extra_failed
        else:
            metrics = workloads.end_to_end(loop)
            metrics["setup_s"] = setup_s
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "environment": environment(spark),
            "base_built_s": base.built_s,
            "peak_rss_mb": rss,
            "phases_s": {
                "session": session_start_s,
                "warm_up": warm_s,
                "loop": loop.wall_s,
                "check": check_s,
            },
            "warm_up_s": [(op.kind, round(op.seconds, 3)) for op in warm],
            "op_s": {k: [round(op.seconds, 3) for op in loop.ops if op.kind == k] for k in workloads.KINDS},
            "errors": [op.error for op in ops if op.error][:5],
            "error_frac": failed / (len(ops) + extra_ops),
        }
    finally:
        session.stop(spark)
    out = {"correct": failed == 0, "attempted": len(ops) + extra_ops, "failed": failed}
    return {"info": info, "out": out, "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
