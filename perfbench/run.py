"""af3spark benchmark runner.

    python3 perfbench/run.py --workload tables_rescreen --seed 1 --seconds 10 --trace 0

Runs one workload (see README.md) in one driver process on
``local[<cpus>]``: session start and workload setup, a first iteration,
then steady-state iterations until at least ``MIN_STEADY`` of them and
``--seconds`` of them are measured. Every iteration runs on
inputs no earlier iteration of the process used and its output is
checked against an independent oracle.

``--trace 0`` reports the end-to-end metrics with tracing off.
``--trace 1`` is a separate run: after the first iteration it runs plain and
traced iterations of equal work in the order plain, traced, traced,
plain (the tracing overhead is the median traced-minus-plain difference
of the two pairs); the traced ones record spans and Spark counters
around the workload's call, and after the last iteration each layer is
timed alone (the per-layer table).

Prints every metric by name with its unit and the check verdicts, and
as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
Everything it writes goes under ``.perfbench_work/`` of the checkout.
"""

from __future__ import annotations

import time

T0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: a run starts no steady iteration it expects to end after this many
#: seconds: a guard that keeps a run on a very slow host within its
#: time limit, far above a normal run's length so the number of
#: iterations measured does not depend on the host's speed
WALL_LIMIT_S = 140.0
#: steady-state iterations a run measures at least
MIN_STEADY = 3


def parse(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["tables_rescreen", "corpus_train"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full",
                   help="input size; tiny is for the smoke test")
    p.add_argument("--work-dir", default=os.path.join(ROOT, ".perfbench_work"))
    return p.parse_args(argv)


def hygiene(work: str, trace: int) -> tuple[int, float]:
    """Environment for the driver JVM and its Python workers, set before
    the JVM starts. Returns (saved stderr fd, 1-min loadavg)."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    phys_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    tmp = os.path.join(work, "tmp")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        # the session default (16g) is above this host's memory
        "SPARK_DRIVER_MEM": f"{max(1, min(4, int(phys_gib // 4)))}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # the UI's REST API feeds the traced run's stage counters
        "SPARK_GRAFT_UI": "true" if trace else "false",
        # pandas-UDF workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
    })
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    global STAT0
    STAT0 = cpu_ticks()
    # Spark's log and \r progress bars go to a log, not the terminal
    saved = os.dup(2)
    log = os.open(os.path.join(work, "spark.log"), os.O_WRONLY | os.O_CREAT | os.O_APPEND)
    os.dup2(log, 2)
    os.close(log)
    return saved, load1


def cpu_ticks() -> list[int]:
    """Aggregate CPU ticks from /proc/stat: user nice system idle iowait
    irq softirq steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


STAT0: list[int] = []


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def bench(a: argparse.Namespace, work: str, load1: float) -> dict:
    sys.path[:0] = [ROOT, HERE]
    import engine
    import metrics
    import workloads

    data = os.path.join(work, "data")
    W = workloads.WORKLOADS[a.workload](data, a.seed, workloads.SIZES[a.size][a.workload])
    gen_s = 0.0

    def make_input(i):
        nonlocal gen_s
        t = time.perf_counter()
        inp = W.make_input(i)
        gen_s += time.perf_counter() - t
        return inp

    inp = make_input(0)
    from process_alphafold3_outputs_spark.session import get_spark

    spark = get_spark("perfbench")
    session_s = time.time() - T0 - gen_s
    prep = W.setup(spark)
    setup_s = session_s + median(prep)
    tracer, jc = engine.Tracer(), engine.JobCounter(spark)
    scratch = os.path.join(work, "layers")
    iters: list[dict] = []

    def iterate(i, inp, kind: str) -> dict:
        out = os.path.join(work, "out", str(i))
        shutil.rmtree(out, ignore_errors=True)
        traced = kind == "traced"
        rec = {"i": i, "items": inp.items, "kind": kind, "bad": [], "bytes": 0}
        tracer.iteration = i
        t = time.perf_counter()
        try:
            if traced:
                with tracer.span(W.name), jc.group("iteration") as g:
                    res = W.run(spark, inp, out)
                rec["group"] = g
            else:
                res = W.run(spark, inp, out)
            rec["wall"] = time.perf_counter() - t
            rec["bad"], rec["bytes"] = W.check(inp, out, res)
            rec["persisted"] = engine.persisted(spark)["rdds"]
        except Exception as e:  # noqa: BLE001 — a failed iteration is counted, not fatal
            rec.setdefault("wall", time.perf_counter() - t)
            rec["bad"].append(f"error: {type(e).__name__}: {str(e)[:300]}")
            traceback.print_exc()
        spark.catalog.clearCache()
        shutil.rmtree(out, ignore_errors=True)
        rec["inp"] = inp
        iters.append(rec)
        return rec

    def breakdown(rec: dict) -> None:
        """The per-layer table, after the traced iteration ``rec``."""
        tracer.iteration = rec["i"]
        g = rec["group"]
        L = workloads.Layers(spark, tracer, jc, scratch)
        try:
            with tracer.span("breakdown"):
                rec["layers"], bad = W.breakdown(spark, rec["inp"], L)
            rec["layers"].update({
                "spark.tasks": g["tasks"],
                "spark.shuffle_write_bytes": g.get("shuffle_write_bytes", 0),
                "spark.persisted_blocks_after_run": rec["persisted"],
            })
        except Exception as e:  # noqa: BLE001
            bad = [f"breakdown error: {type(e).__name__}: {str(e)[:300]}"]
            traceback.print_exc()
        rec["bad"] += bad
        spark.catalog.clearCache()

    # the first iteration, then measured steady-state ones, each on fresh
    # inputs of equal work; a traced run measures plain and traced
    # iterations in ABBA order so a drift in speed cancels out of their
    # differences
    iterate(0, inp, "first")
    steady = lambda: [r for r in iters if r["kind"] == "steady"]  # noqa: E731
    i = 1
    if a.trace:
        for kind in ("steady", "traced", "traced", "steady"):
            iterate(i, make_input(i), kind)
            i += 1
        traced = [r for r in iters if r["kind"] == "traced"]
        if "group" in traced[-1]:
            breakdown(traced[-1])
    while not a.trace:
        done = sum(r["wall"] for r in steady())
        if done >= a.seconds and len(steady()) >= MIN_STEADY:
            break
        if time.time() - T0 + 1.2 * iters[-1]["wall"] > WALL_LIMIT_S:
            break
        if sum(1 for r in iters if r["bad"]) >= 3:
            break
        iterate(i, make_input(i), "steady")
        i += 1

    st = steady() or iters
    failed = sum(1 for r in iters if r["bad"])
    out = {
        "setup_s": setup_s,
        "run_s": median(r["wall"] for r in st),
    }
    layer_vals: dict = {}
    if a.trace:
        for name in metrics.PER_LAYER:
            layer_vals[name] = median(r["layers"][name] for r in traced
                                      if name in r.get("layers", {}))
        layer_vals["session.start_s"] = session_s
        layer_vals["first_run_s"] = iters[0]["wall"]
        layer_vals["output_bytes"] = median(r["bytes"] for r in iters)
        # pairs of equal work: (plain 1, traced 1) and (plain 2, traced 2)
        plain = [r["wall"] for r in st]
        layer_vals["trace.overhead_s"] = median(
            t["wall"] - p for t, p in zip(traced, (plain[0], plain[-1])))
        layer_vals["bench.gen_s"] = gen_s
        layer_vals["peak_rss_mb"] = engine.engine_peak_rss_mb()
        # items of one iteration over the median iteration wall
        layer_vals["items_per_s"] = median(r["items"] for r in st) / out["run_s"]
        os.makedirs(os.path.join(work, "trace"), exist_ok=True)
        tracer.dump(os.path.join(work, "trace", f"{a.workload}_s{a.seed}.spans.json"))
    engine.stop_engine(spark)
    return {"e2e": out, "layers": layer_vals, "iters": iters, "failed": failed,
            "gen_s": gen_s, "load1": load1, "prep": prep, "session_s": session_s}


def report(a, r: dict) -> None:
    import metrics

    w = sys.stdout.write
    w(f"# workload={a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
      f"cpus={os.environ['SPARK_GRAFT_CPUS']} loadavg1={r['load1']:.2f}\n")
    d = [b - a for a, b in zip(STAT0, cpu_ticks())]
    w(f"# host cpu during the run: busy {100 * (sum(d) - d[3] - d[4]) / max(sum(d), 1):.0f}% "
      f"steal {100 * d[7] / max(sum(d), 1):.1f}%\n")
    w(f"# input generation {r['gen_s']:.3f} s (not in setup_s); "
      f"session start {r['session_s']:.3f} s; workload setup runs {r['prep']}\n")
    for it in r["iters"]:
        verdict = "ok" if not it["bad"] else "FAILED " + "; ".join(it["bad"])
        w(f"# iteration {it['i']} {it['kind']} {it['wall']:.3f} s items={it['items']} "
          f"persisted_rdds={it.get('persisted')} check: {verdict}\n")
    attempted = len(r["iters"])
    w(f"failed_frac {r['failed'] / attempted:.4f} ratio\n")
    if a.trace:
        chosen = {k: (metrics.PER_LAYER[k][0], v) for k, v in r["layers"].items()}
        w("# per-layer table (self time of each layer called alone; counts per call)\n")
        for k, (unit, v) in chosen.items():
            _, _, moves, on = metrics.PER_LAYER[k]
            w(f"{k} {v:.6g} {unit}  (moves {moves}; measured on {','.join(on)})\n")
    else:
        chosen = {k: (metrics.END_TO_END[k][0], v) for k, v in r["e2e"].items()}
        for k, (unit, v) in chosen.items():
            w(f"{k} {v:.6g} {unit}\n")
    w(json.dumps({
        "correct": r["failed"] == 0,
        "attempted": attempted,
        "failed": r["failed"],
        "metrics": {k: {"value": v, "unit": unit} for k, (unit, v) in chosen.items()},
    }) + "\n")
    sys.stdout.flush()


def main(argv=None) -> int:
    a = parse(argv)
    work = os.path.abspath(a.work_dir)
    saved_err, load1 = hygiene(work, a.trace)
    os.chdir(work)  # relative writes (e.g. a spark-warehouse dir) land here
    try:
        r = bench(a, work, load1)
    except Exception:  # noqa: BLE001
        os.write(saved_err, traceback.format_exc().encode())
        return 1
    report(a, r)
    return 0


if __name__ == "__main__":
    sys.exit(main())
