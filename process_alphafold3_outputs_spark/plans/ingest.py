"""Ingest-once, query-many: convert an AF3 file tree into the engine's
partitioned parquet tables (SURVEY §4.3 physical layout), then run any
number of screens from the tables without re-parsing JSON/CIF.

This is the 100 TB workflow: raw-file parsing (the expensive,
Python-boundary part) happens exactly once per corpus; every subsequent
query is a columnar scan with pushdown + bucket pruning. The reference
re-parses every CIF up to 9× per run (inefficiency I1); here the parse
count is 1 regardless of how many parameter sweeps follow.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from ..params import ScreenParams
from ..sources.af3_json import read_pae_long, read_summary_confidences
from ..sources.cif import chains_from_atoms, read_atoms
from ..sources.layout import write_job_bucketed

#: big tables get bucketed layout; small ones are plain parquet
_BUCKETED = {"pae_long": 64, "atoms": 64}
TABLES = ("predictions", "chains", "pae_long", "atoms")


def ingest_corpus(
    spark: SparkSession, input_dir: str, table_root: str, n_buckets: int = 64
) -> dict[str, str]:
    """Parse the file tree once; write the four engine tables.

    ``atoms`` is written first and ``chains`` is derived from the
    written table, so each CIF is parsed exactly once."""
    paths = {name: os.path.join(table_root, name) for name in TABLES}

    def write(name: str, df) -> None:
        if name in _BUCKETED:
            write_job_bucketed(
                df, paths[name], n_buckets=min(n_buckets, _BUCKETED[name])
            )
        else:
            df.write.mode("overwrite").option("compression", "zstd").parquet(
                paths[name]
            )

    write("atoms", read_atoms(spark, input_dir))
    write("chains", chains_from_atoms(spark.read.parquet(paths["atoms"])))
    write("predictions", read_summary_confidences(spark, input_dir))
    write("pae_long", read_pae_long(spark, input_dir))
    return paths


def load_ingested(spark: SparkSession, table_root: str) -> dict:
    return {
        name: spark.read.parquet(os.path.join(table_root, name))
        for name in TABLES
    }


def report_from_tables(
    spark: SparkSession, table_root: str, params: ScreenParams
):
    """The flagship straight off the ingested tables — no file parsing."""
    from .pipeline import interaction_report

    t = load_ingested(spark, table_root)
    return interaction_report(
        t["predictions"], t["chains"], t["pae_long"], t["atoms"], params
    )
