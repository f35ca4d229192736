"""Smoke test of the benchmark at tiny input sizes (a few minutes):

    python3 -m pytest perfbench/test_smoke.py -q

Checks that every named metric is printed with its unit, that the
metric catalogue and BENCHMARK.json agree, that a corrupted expected
output makes the run count a failed iteration, and that the runner
fails without a result when the program is not beside it.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402


def bench(work, workload, trace, cwd=ROOT, seed=7):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--size", "tiny", "--work-dir", str(work)],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    return proc


def result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_catalogue_matches_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    assert {w["name"] for w in b["workloads"]} == set(metrics.ALL)
    assert {m["name"]: (m["unit"], m["better"]) for m in b["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in b["per_layer"]} == {
        k: v[:2] for k, v in metrics.PER_LAYER.items()}


def test_end_to_end_metrics_and_a_corrupted_expectation(tmp_path):
    r = result(bench(tmp_path, "corpus_train", 0))
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 4
    assert {k: v["unit"] for k, v in r["metrics"].items()} == {
        k: u for k, (u, _) in metrics.END_TO_END.items()}
    assert all(v["value"] > 0 for v in r["metrics"].values())

    # same seed reuses the cached inputs; corrupt one expected output
    exp = sorted(glob.glob(str(tmp_path / "data/inputs/corpus_train/*_i1_*.expected.json")))
    with open(exp[0]) as fh:
        want = json.load(fh)
    want["digest"] = "0" * 40
    with open(exp[0], "w") as fh:
        json.dump(want, fh)
    proc = bench(tmp_path, "corpus_train", 0)
    r = result(proc)
    assert not r["correct"] and r["failed"] >= 1
    frac = [ln for ln in proc.stdout.splitlines() if ln.startswith("failed_frac ")]
    assert float(frac[0].split()[1]) > 0


@pytest.mark.parametrize("workload, nonzero", [
    ("tables_rescreen", ("plans.pipeline.fused_s", "operators.spatial.pairs_out",
                         "plans.pipeline.scans.chains", "cli.run_s")),
    ("corpus_train", ("plans.corpus.fused_s", "plans.corpus.gates_exact_s",
                      "operators.dedup.near_s", "plans.corpus.scans.documents")),
])
def test_traced_run_reports_every_layer_and_checks_isolation(tmp_path, workload, nonzero):
    r = result(bench(tmp_path, workload, 1))
    assert r["correct"], r
    assert {k: v["unit"] for k, v in r["metrics"].items()} == {
        k: v[0] for k, v in metrics.PER_LAYER.items()}
    m = {k: v["value"] for k, v in r["metrics"].items()}
    assert all(m[k] > 0 for k in nonzero), {k: m[k] for k in nonzero}


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = bench(tmp_path / "work", "tables_rescreen", 0, cwd=tmp_path)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
