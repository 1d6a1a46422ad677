"""Self-tests of the benchmark itself (not of the engine).

    python3 matchbench/selftest.py [--workloads events_match,sub_churn] [--skip-runs]

1. Seeds: two seeds give different inputs but the same forest shape.
2. Wrong reference: a run with a deliberately perturbed reference must
   report failed > 0 and correct = false.
3. Exact counts: two traced runs of one seed must agree on every count
   in run.EXACT_COUNTS (the second run fails itself otherwise).

Steps 2 and 3 start Spark (about a minute per run); --skip-runs keeps
step 1 only. Exits non-zero on the first failed self-test.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SELFTEST_SEED = 9001


def _digest(path: str) -> str:
    """Content hash of a file, or of every file under a directory."""
    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(d, name) for d, _, names in os.walk(path) for name in names
    )
    h = hashlib.sha256()
    for name in files:
        with open(name, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _shape(builder) -> tuple[int, int, int]:
    forest = builder.compile()
    return len(builder.sub_ids()), forest.num_nodes, len(forest.leaves)


def seeds_change_inputs(names: list[str]) -> None:
    sys.path[:0] = [ROOT, HERE]
    from a_tree_spark.expr import ForestBuilder
    from a_tree_spark.web.pipeline import PAGE_ATTRIBUTES, build_page_forest
    from workloads import WORKLOADS

    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".matchbench")) as work:
        for name in names:
            digests, shapes = [], []
            for seed in (1, 2):
                w = WORKLOADS[name](seed, work)
                w.make_inputs()
                if name == "pages_uniform":
                    digests.append(_digest(w.pages_path))
                    shapes.append(_shape(build_page_forest(w.N_SUBS)))
                elif name == "events_match":
                    digests.append(_digest(w.events_path))
                    shapes.append((len(w.live_subscriptions()),))
                else:
                    digests.append(_digest(w.probe_path) + hashlib.sha256(
                        "\n".join(w.subs).encode()).hexdigest()[:16])
                    builder = ForestBuilder(PAGE_ATTRIBUTES)
                    for s in range(w.base, w.base + w.N_SUBS):
                        builder.insert(s, w.expression(s))
                    shapes.append(_shape(builder))
            same_shape = shapes[0][0] == shapes[1][0] and all(
                abs(a - b) <= 0.03 * max(a, b) for a, b in zip(shapes[0], shapes[1])
            )
            print(f"{name}: input digests {digests}, forest shape "
                  f"(subs, nodes, leaves) {shapes}")
            if digests[0] == digests[1] or not same_shape:
                raise SystemExit(f"FAIL seeds: {name}")
    print("PASS seeds change inputs, forest shape kept")


def _run(name: str, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
           "--seed", str(SELFTEST_SEED), "--seconds", "3", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise SystemExit(f"FAIL {' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def wrong_reference_fails(names: list[str]) -> None:
    for name in names:
        result = _run(name, "--trace", "0", "--corrupt-reference")
        share = result["failed"] / result["attempted"]
        print(f"{name}: corrupted reference -> failed {result['failed']}/"
              f"{result['attempted']}, correct={result['correct']}")
        if share == 0 or result["correct"]:
            raise SystemExit(f"FAIL wrong reference not detected: {name}")
    print("PASS a wrong reference gives a non-zero failure share")


def exact_counts_repeat(names: list[str]) -> None:
    for name in names:
        stored = os.path.join(ROOT, ".matchbench", "counts", f"{name}-seed{SELFTEST_SEED}.json")
        if os.path.exists(stored):
            os.remove(stored)
        first = _run(name, "--trace", "1")
        second = _run(name, "--trace", "1")
        counts = {k: (first["metrics"][k]["value"], second["metrics"][k]["value"])
                  for k in ("compiler.live_nodes", "vector.broadcast_growth_bytes",
                            "spark.shuffle.exchanges", "spark.agg.rows_in",
                            "spark.agg.rows_out")}
        print(f"{name}: two traced runs {counts}, correct={second['correct']}")
        if not (first["correct"] and second["correct"]):
            raise SystemExit(f"FAIL exact counts differ between traced runs: {name}")
    print("PASS exact counts repeat between two traced runs of one seed")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workloads", default="events_match,sub_churn")
    p.add_argument("--skip-runs", action="store_true")
    args = p.parse_args()
    names = args.workloads.split(",")
    seeds_change_inputs(names)
    if not args.skip_runs:
        wrong_reference_fails(names)
        exact_counts_repeat(names)
    return 0


if __name__ == "__main__":
    sys.exit(main())
