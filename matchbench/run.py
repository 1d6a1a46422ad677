"""Benchmark of the A-Tree match engine: one closed-loop workload per run.

    python3 matchbench/run.py --workload pages_uniform --seed 1 --seconds 10 --trace 0

Untraced (``--trace 0``) runs print the end-to-end metrics: ``setup_s``
(median of several full set-ups), ``op_p50_s`` and ``rows_per_s``.
Traced runs (``--trace 1``) alternate untraced and traced operations and
print the per-layer metrics; ``trace.overhead_pct`` compares the two
halves. Every operation's output is checked against an independent
reference outside its timed window. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}. The per-run
artifact (every op wall, host diagnostics, phases) is written under
``.matchbench/runs/``. See matchbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".matchbench")
#: full set-ups per run; setup_s is their median, the last one is measured
N_SETUPS = 3
#: traced runs make at least this many operations, so that the counts
#: taken from a fixed op index (and the broadcast growth across this
#: window) repeat exactly between two traced runs of one seed
TRACED_MIN_OPS = 6
DRIVER_HEAP = "3g"

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "rows_per_s": "1/s"}
PER_LAYER = {
    "expr.parse_us_per_sub": "us",
    "compiler.insert_us_per_sub": "us",
    "compiler.delete_us_per_sub": "us",
    "compiler.compile_s": "s",
    "compiler.live_nodes": "count",
    "compiler.subs_per_root": "ratio",
    "vector.plan_s": "s",
    "vector.broadcast_bytes": "bytes",
    "vector.unpickle_s": "s",
    "vector.broadcast_growth_bytes": "bytes",
    "vector.access_pruning": "flag",
    "vector.ingest_us_per_row": "us",
    "vector.eval_us_per_row": "us",
    "vector.expand_us_per_row": "us",
    "vector.root_hits_per_row": "1/row",
    "vector.matches_per_row": "1/row",
    "cells.encode_ns_per_row": "ns",
    "web.extract_fallback_rows": "count",
    "matcher.call_s": "s",
    "spark.driver_s": "s",
    "spark.python.tasks": "count",
    "spark.python.start_ms": "ms",
    "spark.python.init_ms": "ms",
    "spark.python.run_ms": "ms",
    "spark.python.bytes_in": "bytes",
    "spark.python.bytes_out": "bytes",
    "spark.python.rows_out": "count",
    "spark.stage.task_skew": "ratio",
    "spark.scan_ms": "ms",
    "spark.scan.rows": "count",
    "spark.shuffle.exchanges": "count",
    "spark.shuffle.records": "count",
    "spark.shuffle.bytes": "bytes",
    "spark.shuffle.write_ms": "ms",
    "spark.agg.rows_in": "count",
    "spark.agg.rows_out": "count",
    "spark.agg.peak_mem_bytes": "bytes",
    "spark.agg.spill_bytes": "bytes",
    "proc.driver_rss_mb": "MB",
    "proc.worker_rss_mb": "MB",
    "proc.jvm_rss_mb": "MB",
    "trace.overhead_pct": "%",
}
#: Spark counts taken from the first traced op; the other Spark numbers
#: are medians over the traced ops
FIRST_OP_COUNTS = {
    "spark.python.tasks", "spark.python.bytes_in", "spark.python.bytes_out",
    "spark.python.rows_out", "spark.scan.rows", "spark.shuffle.exchanges",
    "spark.shuffle.records", "spark.shuffle.bytes", "spark.agg.rows_in",
    "spark.agg.rows_out", "spark.agg.spill_bytes",
}
#: must repeat exactly between two traced runs of one seed
EXACT_COUNTS = [
    "compiler.live_nodes", "vector.broadcast_bytes",
    "vector.broadcast_growth_bytes", "vector.matches_per_row",
    "spark.shuffle.exchanges", "spark.agg.rows_in", "spark.agg.rows_out",
    "spark.python.rows_out", "web.extract_fallback_rows",
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--corrupt-reference", action="store_true",
        help="self-test: perturb the expected output so every check fails",
    )
    return p.parse_args(argv)


def tail_percentile(walls: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it."""
    n = len(walls)
    rank = n - 10
    if rank < 1:
        return None
    return {"pct": round(100.0 * rank / n, 1), "value_s": sorted(walls)[rank - 1], "n": n}


def start_spark(workload, cpus: int):
    from a_tree_spark.engine.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        **workload.spark_conf,
    }
    return get_spark(f"matchbench-{workload.name}", cpus=cpus, extra_conf=conf)


def stop_session() -> None:
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


def stop_processes() -> None:
    """Stop the session, the JVM it launched and every process under it,
    and wait until each has ended."""
    import host
    from pyspark import SparkContext

    stop_session()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    me = os.getpid()
    deadline = time.monotonic() + 30
    while True:
        left = [pid for pid in host.process_tree() if pid != me]
        if not left:
            return
        sig = signal.SIGKILL if time.monotonic() > deadline else signal.SIGTERM
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def versions() -> dict[str, str]:
    import numpy
    import pyarrow
    import pyspark

    return {
        "python": sys.version.split()[0], "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__, "numpy": numpy.__version__,
    }


def check_exact_counts(name: str, seed: int, metrics: dict) -> list[str]:
    """Compare this traced run's exact counts with the previous traced
    run of the same seed (stored on first sight). Returns mismatches."""
    path = os.path.join(WORK, "counts", f"{name}-seed{seed}.json")
    counts = {k: metrics[k] for k in EXACT_COUNTS}
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(counts, f, indent=1)
        return []
    with open(path) as f:
        previous = json.load(f)
    return [k for k in EXACT_COUNTS if previous.get(k) != counts[k]]


def run(args) -> dict:
    import host
    import sparkstats
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    cpus = len(os.sched_getaffinity(0))
    w = WORKLOADS[args.workload](args.seed, WORK, args.corrupt_reference)
    trace = bool(args.trace)
    phases = {}

    t0 = time.perf_counter()
    inputs = w.make_inputs()
    phases["inputs_s"] = time.perf_counter() - t0

    setups, spark = [], None
    try:
        # references come first and start a session only when they are
        # not cached yet, so that measuring always starts right after the
        # last set-up's warm-up, whether or not this seed ran before
        t0 = time.perf_counter()
        reference_ok = w.reference(lambda: start_spark(w, cpus), want_sample=trace)
        phases["reference_s"] = time.perf_counter() - t0
        for _ in range(N_SETUPS):
            if spark is not None:
                w.release()
            stop_session()
            t0 = time.perf_counter()
            spark = start_spark(w, cpus)
            w.setup(spark)
            setups.append(time.perf_counter() - t0)

        sc = spark.sparkContext
        window = host.Window()
        window.start()
        walls, traced_walls, op_steal, traced_ops = [], [], [], []
        attempted = failed = 0
        t_start = time.perf_counter()
        i = 0
        while w.max_ops is None or i < w.max_ops:
            if time.perf_counter() - t_start >= args.seconds and (
                not trace or i >= TRACED_MIN_OPS
            ):
                break
            traced = trace and i % 2 == 1
            group = f"matchbench-op{i}"
            if traced:
                sc.setJobGroup(group, group)
            cpu0 = host.cpu_jiffies()
            t0 = time.perf_counter()
            out = w.op(i)
            wall = time.perf_counter() - t0
            op_steal.append(host.steal_pct(cpu0, host.cpu_jiffies()))
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
            w.after_op()
            attempted += 1
            failed += not w.check(i, out)
            if traced:
                m = sparkstats.summarize_plan(sparkstats.plan_nodes(out[0]))
                m.update(sparkstats.job_stats(sc, group))
                m["spark.driver_s"] = wall - m.pop("job_s")
                traced_ops.append(m)
                traced_walls.append(wall)
            else:
                walls.append(wall)
            del out
            i += 1
        diag = window.stop()
        phases["measure_s"] = time.perf_counter() - t_start

        op_p50 = statistics.median(walls)
        metrics = {
            "setup_s": statistics.median(setups),
            "op_p50_s": op_p50,
            "rows_per_s": w.rows_per_op / op_p50,
        }
        units = dict(END_TO_END)
        mismatched: list[str] = []
        if trace:
            t0 = time.perf_counter()
            layer = w.replay()
            phases["replay_s"] = time.perf_counter() - t0
            for key in traced_ops[0]:
                values = [m[key] for m in traced_ops]
                layer[key] = values[0] if key in FIRST_OP_COUNTS else statistics.median(values)
            sizes = w.broadcast_sizes[:TRACED_MIN_OPS]
            layer["vector.broadcast_growth_bytes"] = sizes[-1] - sizes[0] if sizes else 0
            layer["matcher.call_s"] = w.spans.median("matcher.call")
            rss = host.rss_by_role()
            layer["proc.driver_rss_mb"] = rss["driver"]
            layer["proc.worker_rss_mb"] = rss["workers"]
            layer["proc.jvm_rss_mb"] = rss["jvm"]
            layer["trace.overhead_pct"] = 100.0 * (
                statistics.median(traced_walls) / op_p50 - 1.0
            )
            mismatched = check_exact_counts(w.name, args.seed, layer)
            metrics = {k: layer[k] for k in PER_LAYER}
            units = PER_LAYER
    finally:
        stop_processes()

    correct = failed == 0 and reference_ok and not mismatched
    artifact = {
        "workload": w.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "inputs": inputs, "correct": correct,
        "attempted": attempted, "failed": failed,
        "reference_matches_oracle": reference_ok,
        "exact_count_mismatches": mismatched,
        "setups_s": setups, "op_walls_s": walls, "traced_op_walls_s": traced_walls,
        "op_p50_s": op_p50, "op_tail": tail_percentile(walls),
        "op_steal_pct": op_steal, "phases_s": phases,
        "spans": w.spans.samples,
        "host": {"nproc": cpus, "driver_heap": DRIVER_HEAP, **diag, **versions()},
        "metrics": metrics,
    }
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    artifact_path = os.path.join(
        WORK, "runs", f"{w.name}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    )
    with open(artifact_path, "w") as f:
        json.dump(artifact, f, indent=1)

    for key, value in metrics.items():
        print(f"{key:32s} {value:>16.6g} {units[key]}")
    tail = artifact["op_tail"]
    print(f"ops {len(walls)} untraced, p50 {op_p50:.4f} s, tail "
          + (f"p{tail['pct']} {tail['value_s']:.4f} s" if tail else "n/a (<11 ops)"))
    print("host: " + ", ".join(f"{k}={v:.3g}" if isinstance(v, float) else f"{k}={v}"
                               for k, v in artifact["host"].items()))
    print(f"correct={correct} attempted={attempted} failed={failed} "
          f"reference_matches_oracle={reference_ok} exact_count_mismatches={mismatched}")
    print(f"artifact {os.path.relpath(artifact_path, ROOT)}")
    return {
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    # every file the run writes stays inside the checkout
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    sys.path.insert(0, ROOT)
    result = run(args)
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
