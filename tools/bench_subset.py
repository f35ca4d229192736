"""Bench-methodology subset runner: times the named queries with the
EXACT bench.py discipline (no warmup for headline rows, median of
$SPARK_GRAFT_BENCH_RUNS noop-sink runs, cache + localCheckpoint release
between runs, respread doubling) so numbers are comparable row-for-row
with BENCH_ANCHOR.json / BENCH_DETAIL.json.

Usage: python tools/bench_subset.py name [name ...]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402  (registers every query family)

from process_alphafold3_outputs_spark.plans import driver_queries as dq  # noqa: E402
from process_alphafold3_outputs_spark.session import get_spark  # noqa: E402


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    spark = get_spark("bench-subset")

    for name in names:
        fn = dq._QUERIES[name]

        def one_run() -> float:
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            elapsed = time.perf_counter() - t0
            bench._release_persisted_rdds(spark)
            spark.catalog.clearCache()
            return elapsed

        runs = [one_run() for _ in range(n_runs)]
        if n_runs > 1 and min(runs) > 0 and max(runs) / min(runs) > 3.0:
            runs += [one_run() for _ in range(n_runs)]
        print(
            json.dumps(
                {
                    "query": name,
                    "median_s": round(statistics.median(runs), 3),
                    "min_s": round(min(runs), 3),
                    "runs": [round(r, 3) for r in runs],
                    "loadavg": round(os.getloadavg()[0], 2),
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
