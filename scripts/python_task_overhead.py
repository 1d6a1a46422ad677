"""Fixed cost of one Python task: the wall of a 10-row ``mapInArrow`` job.

The job does no work in Python, so its wall is Spark's task scheduling
plus the Python worker's per-task setup (command and broadcast read,
``pyspark.worker_util`` file setup, Arrow stream start). It is measured
at 1 and at 4 partitions through ``engine.session.get_spark``, after a
warm-up that starts every worker, and reported as min-of-N.

    python scripts/python_task_overhead.py [--runs 7] [--cpus 4]

Prints one JSON line:
``{"cpus", "runs", "min_s_1p", "min_s_4p", "walls_1p", "walls_4p",
"pyspark_file"}``; ``pyspark_file`` is where a worker imported pyspark
from.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _identity(batches):
    yield from batches


def _pyspark_file(batches):
    import pyarrow as pa
    import pyspark

    for _ in batches:
        yield pa.RecordBatch.from_pylist([{"f": pyspark.__file__}])


def main() -> None:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--runs", type=int, default=7)
    parser.add_argument("--cpus", type=int, default=4)
    args = parser.parse_args()

    from a_tree_spark.engine.session import get_spark

    spark = get_spark("python_task_overhead", cpus=args.cpus,
                      extra_conf={"spark.driver.memory": "2g"})
    try:
        # warm-up: start a worker per task slot
        spark.range(10, numPartitions=2 * args.cpus).mapInArrow(
            _identity, "id long").collect()
        origin = spark.range(1, numPartitions=1).mapInArrow(
            _pyspark_file, "f string").collect()[0].f
        walls: dict[int, list[float]] = {1: [], 4: []}
        for _ in range(args.runs):
            for parts in walls:  # interleaved, so drift hits both alike
                t0 = time.perf_counter()
                spark.range(10, numPartitions=parts).mapInArrow(
                    _identity, "id long").collect()
                walls[parts].append(time.perf_counter() - t0)
    finally:
        spark.stop()
    print(json.dumps({
        "cpus": args.cpus,
        "runs": args.runs,
        "min_s_1p": round(min(walls[1]), 4),
        "min_s_4p": round(min(walls[4]), 4),
        "walls_1p": [round(w, 4) for w in walls[1]],
        "walls_4p": [round(w, 4) for w in walls[4]],
        "pyspark_file": origin,
    }))


if __name__ == "__main__":
    main()
