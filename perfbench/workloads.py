"""The benchmark workloads. Each drives the program only through
its public entry points, on seeded inputs no earlier iteration of the
same process used, and checks every iteration's output against an
independent oracle.

A workload has four parts:

- ``make_input(i)``: untimed; the seeded input of iteration ``i`` and
  its expected output (disk-cached);
- ``setup(spark)``: timed into ``setup_s``; the work a user does once
  before the first query (``tables_rescreen``: the ingest), done
  several times so ``setup_s`` can take the median;
- ``run(spark, inp, out)``: the timed iteration;
- ``check(inp, out, res)``: untimed; a list of failed checks and the
  bytes the iteration wrote;

plus ``breakdown(spark, inp, L)`` for the traced run: each layer's
public function timed on its own, from inputs materialised beforehand,
with the layer counters of the per-layer table in README.md.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import time

import pandas as pd
import pyarrow.parquet as pq

import gen
from engine import dir_bytes, persisted, plan_shape
from process_alphafold3_outputs_spark import cli, corpus_cli
from process_alphafold3_outputs_spark.operators import text
from process_alphafold3_outputs_spark.operators.intervals import identify_interacting_residues
from process_alphafold3_outputs_spark.operators.islands import find_islands
from process_alphafold3_outputs_spark.operators.screen import screen_binders
from process_alphafold3_outputs_spark.operators.spatial import contact_pairs_grid
from process_alphafold3_outputs_spark.operators.structures import (
    pymol_scripts,
    write_interaction_cifs,
    write_overlay_models,
)
from process_alphafold3_outputs_spark.params import (
    PARTNER_ISLAND_MAX_GAP,
    PARTNER_ISLAND_MIN_LENGTH,
    ScreenParams,
)
from process_alphafold3_outputs_spark.plans.corpus import (
    clean_corpus,
    clear_auto_mode_cache,
    corpus_to_training,
)
from process_alphafold3_outputs_spark.plans.ingest import ingest_corpus, load_ingested
from process_alphafold3_outputs_spark.plans.pipeline import interaction_report
from process_alphafold3_outputs_spark.plans.sweep import sweep_grid, sweep_interacting_residues
from process_alphafold3_outputs_spark.sources.af3_json import (
    read_pae_long,
    read_summary_confidences,
    write_pae_matrix_csvs,
)
from process_alphafold3_outputs_spark.sources.cif import read_atoms

#: input sizes; ``tiny`` is for the smoke test only
SIZES = {
    "full": {
        "tables_rescreen": {"n_jobs": 24, "scale": 5},
        "corpus_train": {"n_docs": 1500},
    },
    "tiny": {
        "tables_rescreen": {"n_jobs": 4, "scale": 1},
        "corpus_train": {"n_docs": 300},
    },
}

# the corpus_cli training flags of the workload (and of the oracle SQL)
TRAINING_ARGS = ["--chunk-tokens", "32", "--overlap", "8", "--val-pct", "10"]


def sub_seed(*parts) -> int:
    """A 28-bit seed derived from the run seed and an iteration tag."""
    return int(hashlib.sha1(repr(parts).encode()).hexdigest()[:7], 16)


def cached_json(path: str, make):
    if not os.path.exists(path):
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(make(), fh)
        os.replace(tmp, path)
    with open(path) as fh:
        return json.load(fh)


def noop(df) -> None:
    """Materialise ``df`` and discard it: Spark's ``noop`` sink."""
    df.write.format("noop").mode("overwrite").save()


def as_rows(rows) -> list[tuple]:
    return sorted(tuple(str(v) for v in r) for r in rows)


class Input:
    def __init__(self, i: int, path: str, expected, items: int, **extra):
        self.i, self.path, self.expected, self.items = i, path, expected, items
        self.extra = extra


class Layers:
    """Helpers shared by the breakdowns: a timed-and-counted layer call,
    and parquet materialisation of a layer's output so the next layer
    starts from materialised input."""

    def __init__(self, spark, tracer, jc, scratch: str):
        self.spark, self.tracer, self.jc, self.scratch = spark, tracer, jc, scratch

    def time(self, name: str, make_df, sink=noop) -> dict:
        """Build the layer's DataFrame and drain it to ``sink`` inside one
        span and one job group; returns the group's counters."""
        with self.tracer.span(name), self.jc.group(name) as g:
            sink(make_df())
        return g

    def mat(self, df, name: str):
        path = os.path.join(self.scratch, name)
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    def self_s(self, name: str) -> float:
        return self.tracer.self_times()[name][-1]


def af3_layers(L: Layers, preds, chains, pae, atoms, p: ScreenParams) -> dict:
    """screen → PAE kernel → contacts → islands/report, each layer timed
    alone from materialised inputs. Returns the per-layer values, the
    layered report rows and the materialised intermediates."""
    v: dict = {}
    L.time("operators.screen", lambda: screen_binders(preds, p))
    binders = L.mat(screen_binders(preds, p), "binders")
    v["operators.screen.s"] = L.self_s("operators.screen")
    v["operators.screen.pass_ratio"] = binders.count() / max(preds.count(), 1)

    L.time("operators.intervals",
           lambda: identify_interacting_residues(pae, chains, p, jobs=binders))
    inter = L.mat(identify_interacting_residues(pae, chains, p, jobs=binders), "interacting")
    v["operators.intervals.s"] = L.self_s("operators.intervals")
    v["operators.intervals.pae_rows_in"] = pae.count()
    v["operators.intervals.residues_out"] = inter.count()

    L.time("operators.spatial", lambda: contact_pairs_grid(atoms, inter, p))
    contacts = L.mat(contact_pairs_grid(atoms, inter, p), "contacts")
    v["operators.spatial.s"] = L.self_s("operators.spatial")
    v["operators.spatial.atom_rows_in"] = atoms.count()
    v["operators.spatial.pairs_out"] = contacts.count()

    report = lambda: interaction_report(preds, chains, pae, atoms, p, contacts=contacts)  # noqa: E731
    L.time("plans.pipeline.islands_report", report)
    layered = as_rows(report().collect())
    v["plans.pipeline.islands_report_s"] = L.self_s("plans.pipeline.islands_report")
    v["plans.pipeline.report_rows"] = len(layered)
    v["plans.pipeline.layers_sum_s"] = (
        v["operators.screen.s"] + v["operators.intervals.s"]
        + v["operators.spatial.s"] + v["plans.pipeline.islands_report_s"])
    return {"values": v, "layered": layered, "binders": binders, "contacts": contacts}


def af3_fused(L: Layers, preds, chains, pae, atoms, p: ScreenParams,
              layers_sum_s: float) -> dict:
    """The fused ``interaction_report`` timed as one call, with its plan
    shape and Spark job/stage counts. Returns values and its rows."""
    fused_df = interaction_report(preds, chains, pae, atoms, p)
    g = L.time("plans.pipeline.fused", lambda: interaction_report(preds, chains, pae, atoms, p))
    v = {"plans.pipeline.fused_s": L.self_s("plans.pipeline.fused")}
    v["plans.pipeline.fusion_gap_s"] = v["plans.pipeline.fused_s"] - layers_sum_s
    shape = plan_shape(fused_df)
    for t in ("predictions", "chains", "pae_long", "atoms"):
        v[f"plans.pipeline.scans.{t}"] = shape["scans"].get(t, 0)
    v["plans.pipeline.shuffle_exchanges"] = shape["shuffle_exchanges"]
    v["plans.pipeline.broadcast_exchanges"] = shape["broadcast_exchanges"]
    v["plans.pipeline.windows"] = shape["windows"]
    v["plans.pipeline.spark_jobs"] = g["jobs"]
    v["plans.pipeline.stages"] = g["stages"]
    return {"values": v, "rows": as_rows(fused_df.collect())}


def source_layers(L: Layers, spark, tree: str) -> dict:
    """The raw-tree readers, each drained alone, plus input sizes."""
    L.time("sources.af3_json.summary", lambda: read_summary_confidences(spark, tree))
    L.time("sources.af3_json.pae", lambda: read_pae_long(spark, tree))
    L.time("sources.cif.parse", lambda: read_atoms(spark, tree))
    v = {"sources.af3_json.summary_s": L.self_s("sources.af3_json.summary"),
         "sources.af3_json.pae_s": L.self_s("sources.af3_json.pae"),
         "sources.cif.parse_s": L.self_s("sources.cif.parse"),
         "sources.af3_json.bytes_in": 0, "n_cif": 0}
    for d, _, fs in os.walk(tree):
        for f in fs:
            if f.endswith(".cif"):
                v["n_cif"] += 1
            elif f.endswith(".json"):
                v["sources.af3_json.bytes_in"] += os.path.getsize(os.path.join(d, f))
    return v


def sink_layers(L: Layers, spark, atoms, pae, binders, contacts, p: ScreenParams) -> dict:
    """The per-job file sinks cli.run calls, each timed alone from
    materialised atoms, PAE rows, binders and partner islands."""
    islands = L.mat(find_islands(
        contacts.select("job", "partner_res").distinct(), ["job"], "partner_res",
        PARTNER_ISLAND_MAX_GAP, PARTNER_ISLAND_MIN_LENGTH, island_col="p_isl",
    ).select("job", "partner_res"), "partner_islands")
    root = os.path.join(L.scratch, "sinks")
    shutil.rmtree(root, ignore_errors=True)
    int_dir, ov_dir = os.path.join(root, p.interaction_dir()), os.path.join(root, p.overlay_dir())
    collect = lambda df: df.collect()  # noqa: E731
    L.time("operators.structures.interaction_cifs",
           lambda: write_interaction_cifs(atoms, islands, int_dir, p, jobs=binders), collect)
    box = {}
    L.time("operators.structures.overlays",
           lambda: write_overlay_models(atoms, islands, ov_dir, p, jobs=binders),
           lambda df: box.setdefault("rows", df.collect()))
    files = spark.createDataFrame(
        [(os.path.basename(os.path.dirname(r.path)), r.path) for r in box["rows"]],
        "job string, path string")
    L.time("operators.structures.pymol", lambda: pymol_scripts(files, ov_dir), collect)
    L.time("sources.af3_json.pae_csv",
           lambda: write_pae_matrix_csvs(pae.join(binders.select("job"), "job", "left_semi"),
                                         root), lambda df: df.count())
    v = {f"operators.structures.{k}_s": L.self_s(f"operators.structures.{k}")
         for k in ("interaction_cifs", "overlays", "pymol")}
    v["sources.af3_json.pae_csv_s"] = L.self_s("sources.af3_json.pae_csv")
    return v


def cli_values(v: dict, out: str, wall: float, files_read: int, p: ScreenParams) -> dict:
    """What one cli.run left behind, and its self time: its wall minus
    the layers it is composed of, each timed alone (parse, screen → PAE
    → contacts → islands/report, sinks)."""
    f1, b1 = dir_bytes(os.path.join(out, p.interaction_dir()))
    f2, b2 = dir_bytes(os.path.join(out, p.overlay_dir()))
    parts = ("sources.af3_json.summary_s", "sources.af3_json.pae_s", "sources.cif.parse_s",
             "plans.pipeline.layers_sum_s", "operators.structures.interaction_cifs_s",
             "operators.structures.overlays_s", "operators.structures.pymol_s",
             "sources.af3_json.pae_csv_s")
    return {"operators.structures.files_written": f1 + f2,
            "operators.structures.bytes_written": b1 + b2,
            "sources.cif.reads_per_file": files_read / max(v["n_cif"], 1),
            "cli.run_s": wall,
            "cli.self_s": wall - sum(v[k] for k in parts)}


def check_cli_outputs(out: str, p: ScreenParams, exp: dict) -> list[str]:
    """cli.run's outputs against the model: the CSV rows, and per binder
    one interaction CIF, one PAE CSV, two overlay models and a .pml."""
    bad = []
    got = pd.read_csv(os.path.join(out, p.csv_name()), dtype=str, keep_default_na=False)
    if list(got.columns) != p.report_columns():
        bad.append("csv header")
    if as_rows(got.itertuples(index=False)) != as_rows(exp["rows"]):
        bad.append("csv rows")
    binders = set(exp["binders"])
    int_dir = os.path.join(out, p.interaction_dir())
    cifs = set(os.listdir(int_dir)) if os.path.isdir(int_dir) else set()
    if cifs != {f"{j}_interaction.cif" for j in binders}:
        bad.append("interaction cifs")
    pae_jobs = {d for d in os.listdir(out)
                if os.path.exists(os.path.join(out, d, f"{d}_full_data_0_pae.csv"))}
    if pae_jobs != binders:
        bad.append("pae csvs")
    ov_dir = os.path.join(out, p.overlay_dir())
    ov_jobs = set(os.listdir(ov_dir)) if os.path.isdir(ov_dir) else set()
    want = {"model_0.cif", "model_1.cif", "align_and_save.pml"}
    if ov_jobs != binders or any(
            set(os.listdir(os.path.join(ov_dir, j))) != want for j in ov_jobs):
        bad.append("overlays")
    return bad


def run_cli(spark, tree: str, out: str) -> dict:
    """cli.run with the reference defaults and every sink on."""
    args = cli.build_parser().parse_args(["-id", tree, "--output-dir", out])
    return cli.run(args, spark=spark)


# --------------------------------------------------------------------------
# tables_rescreen
# --------------------------------------------------------------------------
class TablesRescreen:
    """Ingest once (setup), then each iteration screens the tables at two
    fresh parameter points (forward and reversed chains) and runs a
    fresh 2x2 sweep grid: every iteration does the same amount of work.
    The defaults are screened in the traced run's breakdown."""

    name = "tables_rescreen"
    #: ingests per run; setup_s reports their median
    SETUP_RUNS = 3

    def __init__(self, work: str, seed: int, size: dict):
        self.work, self.seed, self.size = work, seed, size
        n, scale = size["n_jobs"], size["scale"]
        self.root = os.path.join(work, "inputs", self.name, f"s{seed}_n{n}_x{scale}")
        self.tables_dir = os.path.join(work, "tables")
        self._jobs = None
        self.ingest: dict = {}

    def _corpus_jobs(self):
        corpus = gen.write_af3_tree(self.root, self.size["n_jobs"],
                                    sub_seed(self.seed, self.name), self.size["scale"])
        if self._jobs is None:
            self._jobs = gen.job_inputs(corpus)
        return self._jobs

    def make_input(self, i: int) -> Input:
        self._corpus_jobs()
        points = gen.param_points(sub_seed(self.seed, "points"), i + 1)[i]
        r = sub_seed(self.seed, "grid", i)
        grid = sweep_grid([round(5.5 + (r % 300) / 100, 2), round(14.6 + (r % 9) / 10, 2)],
                          [3 + r % 3, 6 + (r // 3) % 3])

        def expect():
            jobs = self._corpus_jobs()
            reports = [gen.expected_report(jobs, p) for p in points]
            return {"points": [{"rows": rows, "binders": binders} for rows, binders in reports],
                    "sweep": gen.expected_sweep(jobs, grid, ScreenParams())}

        exp = cached_json(self.root + f".expected.{i}.json", expect)
        return Input(i, self.root, exp, self.size["n_jobs"] * (len(points) + len(grid)),
                     points=points, grid=grid)

    def setup(self, spark) -> list[float]:
        """Ingest the tree into fresh tables ``SETUP_RUNS`` times; the
        iterations read the last ones."""
        took = []
        for k in range(self.SETUP_RUNS):
            dest = os.path.join(self.tables_dir, str(k))
            shutil.rmtree(dest, ignore_errors=True)
            t = time.perf_counter()
            ingest_corpus(spark, self.root, dest)
            took.append(time.perf_counter() - t)
        files_out, bytes_out = dir_bytes(dest)
        self.ingest = {"plans.ingest.s": statistics.median(took),
                       "plans.ingest.bytes_out_per_byte_in": bytes_out / max(dir_bytes(self.root)[1], 1),
                       "plans.ingest.files_out": files_out}
        self.t = load_ingested(spark, dest)
        return took

    def _tables(self):
        t = self.t
        return t["predictions"], t["chains"], t["pae_long"], t["atoms"]

    def run(self, spark, inp: Input, out: str):
        reports = [interaction_report(*self._tables(), p).collect() for p in inp.extra["points"]]
        sweep = sweep_interacting_residues(self.t["pae_long"], self.t["chains"],
                                           inp.extra["grid"]).collect()
        return {"reports": reports, "sweep": sweep}

    def check(self, inp: Input, out: str, res) -> tuple[list[str], int]:
        bad = [f"report rows at {p}" for p, got, want in zip(
            inp.extra["points"], res["reports"], inp.expected["points"])
            if as_rows(got) != as_rows(want["rows"])]
        if as_rows((r.param_id, r.job, r.partner_res) for r in res["sweep"]) != \
                as_rows(inp.expected["sweep"]):
            bad.append("sweep rows")
        return bad, 0

    def breakdown(self, spark, inp: Input, L: Layers) -> tuple[dict, list[str]]:
        """The AF3 layer table at the reference defaults: the flagship's
        layers alone and fused off the ingested tables, the sweep, the
        raw-tree readers and file sinks, and one cli.run on the same
        tree (its self time is its wall minus all of those)."""
        p = ScreenParams()
        rows, binders = gen.expected_report(self._corpus_jobs(), p)
        exp = {"rows": rows, "binders": binders}
        v = dict(self.ingest)
        iso = af3_layers(L, *self._tables(), p)
        v.update(iso["values"])
        fused = af3_fused(L, *self._tables(), p, v["plans.pipeline.layers_sum_s"])
        v.update(fused["values"])
        grid = inp.extra["grid"]
        L.time("plans.sweep", lambda: sweep_interacting_residues(
            self.t["pae_long"], self.t["chains"], grid))
        v["plans.sweep.s"] = L.self_s("plans.sweep")
        v["plans.sweep.points"] = len(grid)
        v.update(source_layers(L, spark, self.root))
        v["sources.af3_json.pae_rows"] = v["operators.intervals.pae_rows_in"]
        v["sources.cif.atoms"] = v["operators.spatial.atom_rows_in"]
        v.update(sink_layers(L, spark, self.t["atoms"], self.t["pae_long"],
                             iso["binders"], iso["contacts"], p))
        out = os.path.join(L.scratch, "cli")
        shutil.rmtree(out, ignore_errors=True)
        before = persisted(spark)["rdds"]
        with L.tracer.span("cli.run"), L.jc.group("cli.run") as g:
            run_cli(spark, self.root, out)
        v["cli.persisted_blocks_after_run"] = persisted(spark)["rdds"] - before
        v.update(cli_values(v, out, L.self_s("cli.run"), g.get("binary_files_read", 0), p))
        bad = check_cli_outputs(out, p, exp)
        if not (iso["layered"] == fused["rows"] == as_rows(exp["rows"])):
            bad.append("isolated layers != fused report")
        return v, bad


# --------------------------------------------------------------------------
# corpus_train
# --------------------------------------------------------------------------
class CorpusTrain:
    """``corpus_cli training`` (clean → chunk → split, parquet out) over a
    fresh seeded document variant each iteration."""

    name = "corpus_train"

    def __init__(self, work: str, seed: int, size: dict):
        self.work, self.seed, self.size = work, seed, size

    def make_input(self, i: int) -> Input:
        n = self.size["n_docs"]
        path = os.path.join(self.work, "inputs", self.name, f"s{self.seed}_i{i}_n{n}.parquet")
        gen.write_documents(path, n, sub_seed(self.seed, self.name, i))
        rows, digest = gen.expected_training(path)
        return Input(i, path, {"rows": rows, "digest": digest}, n)

    def setup(self, spark) -> list[float]:
        return []

    def run(self, spark, inp: Input, out: str):
        args = corpus_cli.build_parser().parse_args(
            ["training", "--documents", inp.path, "--out", out, *TRAINING_ARGS])
        return corpus_cli.run(args, spark=spark)

    def check(self, inp: Input, out: str, res) -> tuple[list[str], int]:
        rows = pq.read_table(out).to_pylist()
        got = [gen.training_key((r["doc_id"], r["chunk_id"], r["chunk_text"],
                                 r["n_tokens"], r["split"])) for r in rows]
        bad = []
        if len(got) != inp.expected["rows"] or res["rows"] != inp.expected["rows"]:
            bad.append("row count")
        if gen.rows_digest(got) != inp.expected["digest"]:
            bad.append("row digest")
        return bad, dir_bytes(out)[1]

    def breakdown(self, spark, inp: Input, L: Layers) -> tuple[dict, list[str]]:
        """The fused training plan against its stages, each run by the
        program's own code with the arguments corpus_to_training passes:
        clean_corpus's text gates and exact dedup (one composite: they
        have no public function apart) drained through its staged
        survivor set, then its near-dedup stage off those staged blocks,
        then the chunk and split columns off materialised survivors.
        Both sides resolve near_dedup="auto" with a cold probe cache, so
        both fire the probe and take the mode the fused plan takes."""
        docs = spark.read.parquet(inp.path)
        v: dict = {}
        chunking = {"chunk_tokens": 32, "overlap": 8}

        handles: list = []
        box = {}

        def fused():
            clear_auto_mode_cache()
            box["df"] = corpus_to_training(docs, val_pct=10, handles=handles, **chunking)
            return box["df"]

        def drain(df):
            noop(df)
            box["peak"] = persisted(spark)["bytes"]

        g = L.time("plans.corpus.fused", fused, drain)
        fused_rows = [gen.training_key(r) for r in box["df"].collect()]
        shape = plan_shape(box["df"], lambda kind, details: "documents")
        for h in handles:
            h.unpersist()

        staged: list = []

        def clean():
            clear_auto_mode_cache()
            box["surv"] = clean_corpus(docs, handles=staged, project=["doc_id"])
            return staged[0]  # the post-gate, post-exact-dedup survivors

        L.time("plans.corpus.gates_exact", clean)
        L.time("operators.dedup.near", lambda: box["surv"])
        surv = L.mat(box["surv"], "survivors")
        for h in staged:
            h.unpersist()

        def chunk():
            return text.chunk_documents(surv, text_col="_norm", **chunking
                                        ).withColumn("split", text.split_col(10))

        L.time("operators.text.chunk", chunk)
        layered = [gen.training_key(r) for r in chunk().collect()]

        for k in ("plans.corpus.gates_exact", "operators.dedup.near", "operators.text.chunk",
                  "plans.corpus.fused"):
            v[k + "_s"] = L.self_s(k)
        v["plans.corpus.fusion_gap_s"] = v["plans.corpus.fused_s"] - sum(
            v[k] for k in ("plans.corpus.gates_exact_s", "operators.dedup.near_s",
                           "operators.text.chunk_s"))
        v["plans.corpus.survivor_ratio"] = surv.count() / max(docs.count(), 1)
        v["plans.corpus.persisted_bytes_peak"] = box["peak"]
        v["plans.corpus.scans.documents"] = shape["scans"].get("documents", 0)
        v["plans.corpus.spark_jobs"] = g["jobs"]
        bad = []
        want = inp.expected["digest"]
        if not (gen.rows_digest(layered) == gen.rows_digest(fused_rows) == want):
            bad.append("isolated layers != fused training rows")
        return v, bad


WORKLOADS = {w.name: w for w in (TablesRescreen, CorpusTrain)}
