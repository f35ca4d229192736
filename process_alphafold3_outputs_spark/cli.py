"""Drop-in CLI — same flags and output contract as the reference
(process_af3_outputs.py:581-598):

    python -m process_alphafold3_outputs_spark -id <input_dir> \
        [-poi A] [-partner B] [-pae 15.0] [-iptm 0.0] [-ptm 0.0] \
        [-min_residues 5] [-max_dist 8.0]

Outputs (naming contract, SURVEY §2.2 #12), written under --output-dir
(default: the input dir, like the reference's CWD-relative outputs):
  - interaction_analysis_PAE_{pae}_max_dist_{d}.csv
  - Interaction_cif_files_PAE_{pae}_maxdist_{d}/{job}_interaction.cif
  - Overlays_PAE_{pae}_maxdist_{d}/{job}/model_{k}.cif + align_and_save.pml
    + a save line for {job}_overlay.pse

One Spark DAG replaces the reference's serial folder loop; a
``dot_clean`` subprocess is unnecessary (``._*`` files are excluded at
scan time, O2/O3).
"""

from __future__ import annotations

import argparse
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .operators.screen import screen_binders
from .operators.structures import (
    pymol_scripts,
    write_interaction_cifs,
    write_overlay_models,
)
from .params import ScreenParams
from .plans.pipeline import compute_contacts, interaction_report, partner_islands
from .session import get_spark
from .sources.af3_json import read_pae_long, read_summary_confidences
from .sources.cif import chains_from_atoms, read_atoms


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="process_alphafold3_outputs_spark",
        description="Screen AlphaFold3 prediction folders for binders and "
        "emit interaction reports, trimmed CIFs and PyMOL overlays.",
    )
    p.add_argument("-id", "--input_dir", required=True)
    p.add_argument("-poi", "--poi_chain", default="A")
    p.add_argument("-partner", "--partner_chain", default="B")
    p.add_argument("-pae", "--max_pae_cutoff", type=float, default=15.0)
    p.add_argument("-iptm", "--min_iptm_cutoff", type=float, default=0.0)
    p.add_argument("-ptm", "--min_ptm_cutoff", type=float, default=0.0)
    p.add_argument("-min_residues", "--min_residues_cutoff", type=int, default=5)
    p.add_argument("-max_dist", "--max_dist", type=float, default=8.0)
    p.add_argument("--output-dir", default=None, help="default: input dir")
    p.add_argument("--skip-structures", action="store_true",
                   help="report CSV only (no CIF/PyMOL sinks)")
    p.add_argument("--emit-pae-csv", action=argparse.BooleanOptionalAction,
                   default=True,
                   help="write the per-job {job}_full_data_0_pae.csv matrix "
                   "side output for jobs passing the binder screen (the "
                   "reference's extract_pae_data runs inside the is_binder "
                   "branch, :567-575; --no-emit-pae-csv skips the extra I/O)")
    p.add_argument("--distributed-csv", action="store_true",
                   help="write the report via the distributed CSV sink "
                   "(a directory of part files) instead of a single "
                   "driver-assembled file — use when the report itself "
                   "is too large to collect")
    p.add_argument("--write-log", action="store_true",
                   help="materialise the summary-read errors table to "
                   "{output-dir}/process_af3_outputs.log (the reference's "
                   "log-file observability, :16-21, as a batch sink; the "
                   "errors are always queryable via read_summary_errors)")
    p.add_argument("--rmsd", action="store_true",
                   help="also compute Kabsch optimal-superposition RMSD of "
                   "every overlay model onto model 0 (per binder job, CA "
                   "atoms) and write {output-dir}/overlay_rmsd.csv — the "
                   "analysis the reference README claims (README.md:98-104) "
                   "but its script never runs (dead Superimposer import)")
    p.add_argument("--watch", action="store_true",
                   help="streaming mode: watch input_dir for new summary "
                   "JSONs and append screen verdicts to "
                   "{output-dir}/screened_stream (runs until interrupted)")
    p.add_argument("--watch-once", action="store_true",
                   help="like --watch but process available files and exit")
    p.add_argument("--ingest", metavar="TABLE_ROOT",
                   help="parse the file tree ONCE into partitioned parquet "
                   "tables under TABLE_ROOT, then exit")
    p.add_argument("--from-tables", metavar="TABLE_ROOT",
                   help="run the screen from tables previously written by "
                   "--ingest instead of parsing raw files")
    return p


def run(args: argparse.Namespace, spark: SparkSession | None = None) -> dict:
    params = ScreenParams(
        poi_chain=args.poi_chain,
        partner_chain=args.partner_chain,
        max_pae_cutoff=args.max_pae_cutoff,
        min_iptm_cutoff=args.min_iptm_cutoff,
        min_ptm_cutoff=args.min_ptm_cutoff,
        min_residues_cutoff=args.min_residues_cutoff,
        max_dist=args.max_dist,
    )
    out_root = args.output_dir or args.input_dir
    os.makedirs(out_root, exist_ok=True)
    own_session = spark is None
    if own_session:
        spark = get_spark("af3spark-cli")
    try:
        if args.watch or args.watch_once:
            return _watch(args, spark, params, out_root)
        if args.ingest:
            from .plans.ingest import ingest_corpus

            paths = ingest_corpus(spark, args.input_dir, args.ingest)
            return {"csv": None, "n_binders": None, "n_report_rows": None,
                    "interaction_cifs": 0, "overlay_files": 0, "tables": paths}
        return _screen(args, spark, params, out_root)
    finally:
        if own_session:
            spark.stop()


def _watch(args, spark: SparkSession, params: ScreenParams, out_root: str) -> dict:
    from .streaming.ingest import watch_summaries

    out_path = os.path.join(out_root, "screened_stream")
    q = watch_summaries(
        spark,
        args.input_dir,
        out_path,
        os.path.join(out_root, "screened_stream_ckpt"),
        params,
    )
    if args.watch_once:
        q.processAllAvailable()
        q.stop()
    else:
        q.awaitTermination()
    n = spark.read.parquet(out_path).count() if os.path.exists(out_path) else 0
    return {"csv": None, "n_binders": n, "n_report_rows": None,
            "interaction_cifs": 0, "overlay_files": 0,
            "stream_out": out_path}


def _screen(args, spark: SparkSession, params: ScreenParams, out_root: str) -> dict:
    if args.from_tables:
        from .plans.ingest import load_ingested

        t = load_ingested(spark, args.from_tables)
        preds, chains, pae, atoms = (
            t["predictions"], t["chains"], t["pae_long"], t["atoms"]
        )
    else:
        preds = read_summary_confidences(spark, args.input_dir)
        atoms = read_atoms(spark, args.input_dir)
        chains = chains_from_atoms(atoms)
        pae = read_pae_long(spark, args.input_dir)

    # shared subplans computed ONCE, reused across report + sinks
    # (reference recomputed them per output path — inefficiencies I1/I2);
    # released on every exit path, also on a borrowed session
    binders = screen_binders(preds, params).cache()
    contacts = compute_contacts(preds, chains, pae, atoms, params).cache()
    try:
        report = interaction_report(preds, chains, pae, atoms, params, contacts=contacts)
        if getattr(args, "distributed_csv", False):
            from .plans.pipeline import write_report

            csv_path = write_report(report, out_root, params)
            n_rows = spark.read.option("header", True).csv(csv_path).count()
        else:
            # reference parity: ONE file with the exact reference name; the
            # report is one row per binder island pair — small relative to
            # the corpus. --distributed-csv switches to the parallel sink.
            csv_path = os.path.join(out_root, params.csv_name())
            pdf = report.toPandas()
            pdf.to_csv(csv_path, index=False)
            n_rows = len(pdf)

        result = {"csv": csv_path, "n_binders": binders.count(),
                  "n_report_rows": n_rows, "interaction_cifs": 0,
                  "overlay_files": 0, "pae_csvs": 0}

        if getattr(args, "emit_pae_csv", True):
            from .sources.af3_json import write_pae_matrix_csvs

            # Reference parity: _pae.csv is written only for jobs that pass
            # the binder screen (extract_pae_data runs inside the is_binder
            # branch of process_full_data_files, reference :567-575) — a
            # drop-in user diffing output trees must not see extra files.
            pae_binders = pae.join(binders.select("job"), "job", "left_semi")
            result["pae_csvs"] = write_pae_matrix_csvs(pae_binders, out_root).count()

        if getattr(args, "write_log", False) and not args.from_tables:
            from .sources.af3_json import read_summary_errors

            log_path = os.path.join(out_root, "process_af3_outputs.log")
            with open(log_path, "w") as fh:
                for r in read_summary_errors(spark, args.input_dir).collect():
                    fh.write(f"ERROR - Invalid JSON: {r.path}: {r.raw_prefix}\n")
            result["log"] = log_path

        if not args.skip_structures:
            # the report's own level-1 islands over the same cached contacts
            islands = partner_islands(contacts).select("job", "partner_res")

            int_dir = os.path.join(out_root, params.interaction_dir())
            written = write_interaction_cifs(
                atoms, islands, int_dir, params, jobs=binders
            ).collect()
            result["interaction_cifs"] = len(written)

            ov_dir = os.path.join(out_root, params.overlay_dir())
            # collect the sink result ONCE (the writer is a grouped-map UDF;
            # re-evaluating the plan would rewrite every file)
            overlay_rows = write_overlay_models(
                atoms, islands, ov_dir, params, jobs=binders
            ).collect()
            files = spark.createDataFrame(
                [
                    (os.path.basename(os.path.dirname(r.path)), r.path)
                    for r in overlay_rows
                ]
                or [("", "")],
                "job string, path string",
            ).filter(F.col("job") != "")
            scripts = pymol_scripts(files, ov_dir).collect()
            result["overlay_files"] = len(overlay_rows) + len(scripts)

            if getattr(args, "rmsd", False):
                from .operators.structures import superimpose_models

                rmsd_path = os.path.join(out_root, "overlay_rmsd.csv")
                rmsd_pdf = (
                    superimpose_models(
                        atoms.join(binders.select("job"), "job", "left_semi"),
                        ref_model=0,
                    )
                    .select("job", "model_id", "n_atoms", F.round("rmsd", 4).alias("rmsd"))
                    .orderBy("job", "model_id")
                    .toPandas()
                )
                rmsd_pdf.to_csv(rmsd_path, index=False)
                result["rmsd_csv"] = rmsd_path
                result["rmsd_rows"] = len(rmsd_pdf)

        return result
    finally:
        binders.unpersist()
        contacts.unpersist()


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)
    result = run(args)
    print(
        f"binders={result['n_binders']} report_rows={result['n_report_rows']} "
        f"csv={result['csv']} interaction_cifs={result['interaction_cifs']} "
        f"overlay_files={result['overlay_files']}"
    )
