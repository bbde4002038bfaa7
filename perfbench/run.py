"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the repository root. The workload's inputs are generated from
``--seed``; ops run for ``--seconds``; every output is checked against
the program's DuckDB oracles. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics of a
traced run with ``--trace 1``. Lines before it are a readable summary.

Everything the run writes goes under ``.perfbench/`` in the repository
root and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = os.path.join(ROOT, "dbt_jaffleshop_spark", "__init__.py")

# Spark driver heap: far below host RAM (the program's own default is
# 48g) and ample for the benchmark's inputs.
DRIVER_MEM = "2g"

import spec  # noqa: E402  (HERE is sys.path[0] when run as a script)


def parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(spec.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_env(work: str) -> None:
    """Run environment: all cores of this host (nproc), a fixed driver
    heap, and every temporary file — Spark's, the JVM's and Python's —
    under ``work``. Variables that would point the program elsewhere
    are cleared."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # spark-submit's launcher JVM
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options '{jvm_opts}' pyspark-shell"
    for var in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CACHE_MAX_BYTES"):
        os.environ.pop(var, None)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def summarize(name: str, ops: list, wall: float | None, setup_s: float, trace: int,
              tracer) -> dict:
    import stats
    import tracing

    lat_ms = [1e3 * op.seconds for op in ops]
    failed = sum(not op.ok for op in ops)
    tail = stats.tail_percentile(len(lat_ms))
    tail_txt = (f", p{tail:g} {stats.percentile(lat_ms, tail):.1f} ms" if tail
                else " (too few ops for a tail percentile)")
    rate_txt = f"; {len(ops) / wall:.2f} ops/s" if wall else ""
    print(f"{name}: {len(ops)} ops, {failed} failed, error_rate {failed / len(ops):.4f}; "
          f"latency p50 {stats.median(lat_ms):.1f} ms{tail_txt}{rate_txt}; "
          f"setup {setup_s:.2f} s")
    if not trace:
        values = {"setup_s": setup_s, "op_p50_ms": stats.median(lat_ms)}
        units = {k: v[0] for k, v in spec.END_TO_END.items()}
    else:
        layers = spec.per_layer(name)
        values = {}
        for key in layers:
            vals = [op.layers[key] for op in ops if key in op.layers]
            values[key] = stats.median(vals) if vals else 0.0
        hits = tracer.counts["models.base.cache_hits"]
        misses = tracer.counts["models.base.cache_misses"]
        values["models.base.cache_hit_ratio"] = hits / (hits + misses) if hits + misses else 0.0
        values["peak_rss_mb"] = tracing.peak_rss_mb()
        values["trace.op_p50_ms"] = stats.median(lat_ms)
        values["trace.bookkeeping_ms"] = 1e3 * tracer.bookkeeping_s / len(ops)
        units = {k: v[0] for k, v in layers.items()}
        counts = [tuple(op.layers.get(k) for k in ("session.jobs", "session.stages",
                                                    "session.tasks")) for op in ops]
        print("session counts per op (jobs, stages, tasks): "
              + " ".join(str(c) for c in counts[:50]))
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }


def main(argv: list[str]) -> int:
    t_start = time.perf_counter()
    args = parse(argv)
    if not os.path.isfile(PKG):
        print(f"perfbench: the program ({os.path.relpath(PKG, ROOT)}) is not "
              "in this checkout", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    pin_env(work)
    sys.path.insert(1, ROOT)

    import tracing
    import workloads
    from dbt_jaffleshop_spark.session import get_spark

    spark = get_spark("perfbench")
    try:
        ctx = workloads.Context(spark, work, args.seed)
        wl = workloads.WORKLOADS[args.workload]()
        wl.setup(ctx)
        setup_s = time.perf_counter() - t_start
        tracer = None
        if args.trace:
            tracer = ctx.tracer = tracing.Tracer()
            tracing.install(tracer)
        wall = None
        if hasattr(wl, "run"):  # serve: concurrent clients, timed as a whole
            ops = wl.run(ctx, args.seconds)
            wall = wl.wall
        else:
            ops = workloads.serial_loop(ctx, wl, args.seconds)
        if hasattr(wl, "close"):
            wl.close()
        if tracer:
            tracer.unpatch()
            tracer.dump(os.path.join(base, f"spans-{args.workload}-{args.seed}.jsonl"))
        result = summarize(args.workload, ops, wall, setup_s, args.trace, tracer)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
