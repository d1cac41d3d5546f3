"""kr_spark benchmark: runs one workload in this process and prints its
metrics as one JSON object on the last line of standard output.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 12 --trace 0

Workloads (see NOTES.md): query_mix, kg_pipeline, kb_update. With --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1 the
run measures the same operations again with spans on and prints the
per-layer metrics. Inputs come from --seed; everything the run writes lives
under perfbench/work/ and is removed at exit (spans of traced runs are kept
in perfbench/out/).
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import tempfile
import time
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SCALES = {
    # sf0.1 KB: 543,144 triples; pipeline pass: 800k turns
    "full": {"sf": 0.1, "pipeline_convs": 100_000, "update_customers": 200, "setups": 3},
    # smoke size: seconds per workload, same code paths
    "tiny": {"sf": 0.001, "pipeline_convs": 400, "update_customers": 20, "setups": 1},
}
DRIVER_MEMORY = "4g"  # sized for a 4-core, 15 GB machine


def make_spark(work: str, cpus: int):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("kr_spark_perfbench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # the tracer reads jobs and stages back from the status store
        .config("spark.ui.retainedJobs", "1000000")
        .config("spark.ui.retainedStages", "1000000")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit: it leaves when
    its stdin pipe from this process closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)  # noqa: SLF001
    t0 = time.perf_counter()
    spark.stop()
    t1 = time.perf_counter()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    log(f"spark.stop {t1 - t0:.2f}s, JVM exit {time.perf_counter() - t1:.2f}s")


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident memory (MB) of the driver JVM and of this Python process."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return jvm_kb / 1024.0, py_kb / 1024.0


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def measure(w, tr, seconds: float = 0.0, n_ops: int | None = None):
    """Closed loop, one client: the next operation starts when the last one
    returns. Runs n_ops operations, or whole cycles for `seconds`."""
    lat, failed, i = [], 0, 0
    t0 = time.perf_counter()
    while True:
        if n_ops is not None:
            if i >= n_ops:
                break
        elif time.perf_counter() - t0 >= seconds and i >= w.min_ops and i % w.cycle == 0:
            break
        tr.new_op()
        dt, ok = w.op(i, tr)
        lat.append(dt)
        failed += not ok
        i += 1
    return lat, failed, t0, time.perf_counter()


def run(args, spec: dict, work: str) -> dict:
    import bench  # the repository's host probes

    from tracing import NullTracer, Tracer
    from workloads import WORKLOADS, med, p50_by_kind, pct

    bench._wait_quiesce(max_wait_s=10)  # noqa: SLF001
    host = bench._host_health(n_procs=os.cpu_count())  # noqa: SLF001
    print(json.dumps({"host_health": host}), flush=True)
    log(f"host probe {host}")

    import datagen

    scale = SCALES[args.scale]
    tables_dir = os.path.join(work, "tables")
    tables = datagen.write_tables(tables_dir, scale["sf"], args.seed)

    cpus = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = make_spark(work, cpus)
    session_s = time.perf_counter() - t0
    log(f"session up in {session_s:.2f}s")
    try:
        ctx = SimpleNamespace(
            spark=spark, seed=args.seed, tables=tables, tables_dir=tables_dir,
            work=work, scale=scale,
        )
        w = WORKLOADS[args.workload](ctx)
        setups = []
        for _ in range(scale["setups"]):
            t = time.perf_counter()
            w.setup(NullTracer())
            setups.append(time.perf_counter() - t)
        log(f"setups {[round(s, 2) for s in setups]}")
        w.warm()
        lat, failed, start, end = measure(w, NullTracer(), seconds=args.seconds)
        log(f"{len(lat)} ops in {end - start:.2f}s, {failed} failed: {[round(x, 3) for x in lat]}")
        attempted, window = len(lat), end - start
        metrics = {
            "setup_s": session_s + med(setups),
            "op_p50_s": p50_by_kind(lat, [w.op_kind(i) for i in range(len(lat))]),
            "op_p95_s": pct(lat, 95),
            "ops_per_s": len(lat) / window,
        }
        named = {
            "setup_s": (metrics["setup_s"], "s"),
            **w.named(lat, window),
            "error_rate": (failed / attempted, "ratio"),
        }
        if args.trace:
            # replay the window's operations with spans on. The replay runs
            # 4-10% faster than the window (the JIT is still warming), so the
            # wall-time difference understates the tracing cost; the tracer
            # also times its own look-ups directly.
            tr = Tracer(spark)
            w.traced(tr)
            t_lat, t_failed, t_start, t_end = measure(w, tr, n_ops=attempted)
            attempted += len(t_lat)
            failed += t_failed
            log(f"traced replay {t_end - t_start:.2f}s: {[round(x, 3) for x in t_lat]}")
            tr.resolve()
            metrics = w.layers(tr)
            metrics["trace.wall_s"] = t_end - t_start
            metrics["trace.remainder_s"] = tr.remainder_s(t_start, t_end)
            metrics["trace.overhead_s"] = tr.cost_s
            metrics["trace.replay_minus_window_s"] = (t_end - t_start) - window
            os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
            spans_path = os.path.join(HERE, "out", f"spans-{args.workload}-{args.seed}.json")
            with open(spans_path, "w") as f:
                json.dump(tr.spans, f)
        jvm_mb, py_mb = peak_rss_mb(spark)
        named["peak_rss_mb"] = (jvm_mb + py_mb, "MB")
        if args.trace:
            metrics["driver_jvm.peak_rss_mb"] = jvm_mb
            metrics["python.peak_rss_mb"] = py_mb
        w.close()
    finally:
        stop_spark(spark)

    named_json = {k: {"value": v, "unit": u} for k, (v, u) in named.items()}
    print(json.dumps({"workload": args.workload, "named": named_json}), flush=True)
    kind = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            name: {"value": float(metrics.get(name, 0.0)), "unit": unit}
            for name, unit in units.items()
        },
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["query_mix", "kg_pipeline", "kb_update"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="full")
    args = ap.parse_args(argv)

    needed = ("kr_spark", "bench.py", "BENCHMARK.json")
    missing = [p for p in needed if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a kr_spark checkout, missing {missing}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # temp files of Python (pyspark, Arrow) and of spark-submit's launcher
    # JVM stay in the checkout too
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    tempfile.tempdir = None
    sys.path[:0] = [ROOT, HERE]
    try:
        result = run(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
