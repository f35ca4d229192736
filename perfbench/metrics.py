"""The benchmark's metric catalogue: every end-to-end and per-layer
metric with its unit, its better direction, the end-to-end metric it
should move and the workloads it is measured on. ``BENCHMARK.json``
lists the same names and units (the smoke test checks they agree).
"""

from __future__ import annotations

ALL = ("tables_rescreen", "corpus_train")
AF3 = ("tables_rescreen",)
CORPUS = ("corpus_train",)

#: name -> (unit, better); reported with tracing off
END_TO_END = {
    "setup_s": ("s", "lower"),
    "run_s": ("s", "lower"),
}

#: name -> (unit, better, end-to-end metric it should move, workloads
#: it is measured on). Reported by the traced run; a workload that
#: never calls a layer reports 0 for it. The file sinks and ``cli.*``
#: are measured on one ``cli.run`` over tables_rescreen's tree: they
#: move ``cli.run_s``, the wall of that run, which is what a one-shot
#: CLI user waits for.
PER_LAYER = {
    "session.start_s": ("s", "lower", "setup_s", ALL),
    "first_run_s": ("s", "lower", "none", ALL),
    "sources.af3_json.summary_s": ("s", "lower", "setup_s", AF3),
    "sources.af3_json.pae_s": ("s", "lower", "setup_s", AF3),
    "sources.af3_json.pae_rows": ("count", "lower", "setup_s", AF3),
    "sources.af3_json.bytes_in": ("bytes", "lower", "setup_s", AF3),
    "sources.af3_json.pae_csv_s": ("s", "lower", "cli.run_s", AF3),
    "sources.cif.parse_s": ("s", "lower", "setup_s", AF3),
    "sources.cif.atoms": ("count", "lower", "setup_s", AF3),
    "sources.cif.reads_per_file": ("ratio", "lower", "cli.run_s", AF3),
    "operators.screen.s": ("s", "lower", "run_s", AF3),
    "operators.screen.pass_ratio": ("ratio", "higher", "run_s", AF3),
    "operators.intervals.s": ("s", "lower", "run_s", AF3),
    "operators.intervals.pae_rows_in": ("count", "lower", "run_s", AF3),
    "operators.intervals.residues_out": ("count", "higher", "run_s", AF3),
    "operators.spatial.s": ("s", "lower", "run_s", AF3),
    "operators.spatial.atom_rows_in": ("count", "lower", "run_s", AF3),
    "operators.spatial.pairs_out": ("count", "higher", "run_s", AF3),
    "plans.pipeline.islands_report_s": ("s", "lower", "run_s", AF3),
    "plans.pipeline.report_rows": ("count", "higher", "run_s", AF3),
    "plans.pipeline.fused_s": ("s", "lower", "run_s", AF3),
    "plans.pipeline.layers_sum_s": ("s", "lower", "run_s", AF3),
    "plans.pipeline.fusion_gap_s": ("s", "lower", "run_s", AF3),
    "plans.pipeline.scans.predictions": ("count", "lower", "run_s", AF3),
    "plans.pipeline.scans.chains": ("count", "lower", "run_s", AF3),
    "plans.pipeline.scans.pae_long": ("count", "lower", "run_s", AF3),
    "plans.pipeline.scans.atoms": ("count", "lower", "run_s", AF3),
    "plans.pipeline.shuffle_exchanges": ("count", "lower", "run_s", AF3),
    "plans.pipeline.broadcast_exchanges": ("count", "lower", "run_s", AF3),
    "plans.pipeline.windows": ("count", "lower", "run_s", AF3),
    "plans.pipeline.spark_jobs": ("count", "lower", "run_s", AF3),
    "plans.pipeline.stages": ("count", "lower", "run_s", AF3),
    "plans.sweep.s": ("s", "lower", "run_s", AF3),
    "plans.sweep.points": ("count", "higher", "run_s", AF3),
    "operators.structures.interaction_cifs_s": ("s", "lower", "cli.run_s", AF3),
    "operators.structures.overlays_s": ("s", "lower", "cli.run_s", AF3),
    "operators.structures.pymol_s": ("s", "lower", "cli.run_s", AF3),
    "operators.structures.files_written": ("count", "lower", "cli.run_s", AF3),
    "operators.structures.bytes_written": ("bytes", "lower", "cli.run_s", AF3),
    "cli.run_s": ("s", "lower", "none", AF3),
    "cli.self_s": ("s", "lower", "cli.run_s", AF3),
    "cli.persisted_blocks_after_run": ("count", "lower", "peak_rss_mb", AF3),
    "plans.ingest.s": ("s", "lower", "setup_s", AF3),
    "plans.ingest.bytes_out_per_byte_in": ("ratio", "lower", "setup_s", AF3),
    "plans.ingest.files_out": ("count", "lower", "run_s", AF3),
    "plans.corpus.gates_exact_s": ("s", "lower", "run_s", CORPUS),
    "operators.dedup.near_s": ("s", "lower", "run_s", CORPUS),
    "operators.text.chunk_s": ("s", "lower", "run_s", CORPUS),
    "plans.corpus.fused_s": ("s", "lower", "run_s", CORPUS),
    "plans.corpus.fusion_gap_s": ("s", "lower", "run_s", CORPUS),
    "plans.corpus.survivor_ratio": ("ratio", "higher", "run_s", CORPUS),
    "plans.corpus.persisted_bytes_peak": ("bytes", "lower", "peak_rss_mb", CORPUS),
    "plans.corpus.scans.documents": ("count", "lower", "run_s", CORPUS),
    "plans.corpus.spark_jobs": ("count", "lower", "first_run_s", CORPUS),
    "spark.tasks": ("count", "lower", "run_s", ALL),
    "spark.shuffle_write_bytes": ("bytes", "lower", "run_s", ALL),
    "spark.persisted_blocks_after_run": ("count", "lower", "peak_rss_mb", ALL),
    "items_per_s": ("1/s", "higher", "run_s", ALL),
    "output_bytes": ("bytes", "lower", "run_s", CORPUS),
    "peak_rss_mb": ("MiB", "lower", "none", ALL),
    "trace.overhead_s": ("s", "lower", "run_s", ALL),
    "bench.gen_s": ("s", "lower", "none", ALL),
}
