"""Per-query isolation probe (r14/r15 optimization rounds).

Usage:
    python tools/isolate_query.py [--suffix before] [--runs 3]
        [--plans-dir plans/r15] name [name ...]

For each registered query name this:
  * builds the DataFrame fresh (same builder the bench uses),
  * writes ``.explain("formatted")`` to ``plans/r14/<name>_<suffix>.txt``,
  * runs one untimed warmup, then N timed noop-sink runs (bench
    methodology: median + spread),
  * records, for the FIRST timed run, job count / stage count / task
    count / shuffle read+write bytes / top stages by duration from the
    UI REST API.

Results print as one JSON line per query and accumulate into
``plans/r14/isolation_<suffix>.json`` so before/after evidence survives
the session.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_UI", "true")

import bench  # noqa: E402  (registers every query family)

from process_alphafold3_outputs_spark.plans import driver_queries as dq  # noqa: E402
from process_alphafold3_outputs_spark.session import get_spark  # noqa: E402


def _api(spark, path: str):
    ui = spark.sparkContext.uiWebUrl
    apps = json.load(urllib.request.urlopen(f"{ui}/api/v1/applications", timeout=5))
    app_id = apps[0]["id"]
    return json.load(
        urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/{path}", timeout=15)
    )


def probe(spark, name: str, fn, suffix: str, runs: int, plans_dir: str) -> dict:
    spark.sparkContext.setJobDescription(f"isolate:{name}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    def action():
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    # plan capture (fresh build so the file reflects plan-time state)
    import contextlib
    import io

    df = fn(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan_txt = buf.getvalue()
    os.makedirs(plans_dir, exist_ok=True)
    with open(os.path.join(plans_dir, f"{name}_{suffix}.txt"), "w") as fh:
        fh.write(plan_txt)
    n_exchanges = plan_txt.count("Exchange")
    n_python = sum(
        plan_txt.count(k) for k in ("BatchEvalPython", "ArrowEvalPython")
    )

    action()  # warmup
    bench._release_persisted_rdds(spark)
    spark.catalog.clearCache()

    jobs_before = {j["jobId"] for j in _api(spark, "jobs")}
    stages_before = {s["stageId"] for s in _api(spark, "stages")}

    walls = []
    detail = None
    for i in range(runs):
        t0 = time.perf_counter()
        action()
        walls.append(round(time.perf_counter() - t0, 3))
        if i == 0:
            jobs = [j for j in _api(spark, "jobs") if j["jobId"] not in jobs_before]
            stages = [
                s for s in _api(spark, "stages") if s["stageId"] not in stages_before
            ]
            top = sorted(
                (
                    {
                        "id": s["stageId"],
                        "name": s.get("name", "")[:60],
                        "tasks": s.get("numCompleteTasks", 0),
                        "ms": s.get("executorRunTime", 0),
                    }
                    for s in stages
                ),
                key=lambda d: -d["ms"],
            )[:8]
            detail = {
                "n_jobs": len(jobs),
                "n_stages": len(stages),
                "n_tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
                "shuffle_write_b": sum(s.get("shuffleWriteBytes", 0) for s in stages),
                "shuffle_read_b": sum(s.get("shuffleReadBytes", 0) for s in stages),
                "top_stages": top,
            }
        bench._release_persisted_rdds(spark)
    spark.catalog.clearCache()

    out = {
        "query": name,
        "median_s": round(statistics.median(walls), 3),
        "min_s": min(walls),
        "max_s": max(walls),
        "n_exchanges_in_plan": n_exchanges,
        "n_python_nodes": n_python,
        "loadavg": round(os.getloadavg()[0], 2),
        **(detail or {}),
    }
    spark.sparkContext.setJobDescription(None)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans-dir", default="plans/r15")
    args = ap.parse_args()

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    plans_dir = os.path.join(repo, *args.plans_dir.split("/"))
    spark = get_spark("af3spark-isolate")

    # warm session once (parquet footers, codegen) off the clock
    try:
        dq.pricing_summary(
            spark, os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        ).write.format("noop").mode("overwrite").save()
    except Exception as exc:  # noqa: BLE001
        print(f"warmup failed: {exc}", file=sys.stderr)

    acc_path = os.path.join(plans_dir, f"isolation_{args.suffix}.json")
    acc = {}
    if os.path.exists(acc_path):
        with open(acc_path) as fh:
            acc = json.load(fh)
    for name in args.names:
        if name not in dq._QUERIES:
            print(json.dumps({"query": name, "error": "unregistered"}))
            continue
        try:
            rec = probe(spark, name, dq._QUERIES[name], args.suffix, args.runs, plans_dir)
        except Exception as exc:  # noqa: BLE001
            rec = {"query": name, "error": f"{type(exc).__name__}: {exc}"}
        acc[name] = rec
        print(json.dumps(rec))
    os.makedirs(plans_dir, exist_ok=True)
    with open(acc_path, "w") as fh:
        json.dump(acc, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
