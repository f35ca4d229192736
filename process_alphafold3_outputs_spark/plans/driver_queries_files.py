"""Driver-contract queries for the FILE-BOUNDARY operators — O1-O4,
O9-O10, O15 side-sink, O29-O33, O35 (process_af3_outputs.py:36-124,
:304-345, :389-541).

Round-1 left these 12 operators pytest-only; here each one gets a full
rows+schema+hash CORRECTNESS row:

- source queries read an actual AF3 directory tree (JSON + CIF files,
  with AppleDouble / corrupt-JSON / latin-1 landmines) through the real
  readers; the DuckDB oracle reads *expected-content* parquet written
  by the same fixture generator from the in-memory corpus — so a parse
  bug on either side of the file boundary breaks the hash.
- sink queries run the pipeline file→file (tree in, CIF/CSV/PyMOL out),
  then RE-READ the written artifacts and return their content as rows;
  the oracle restates the entire reference pipeline (screen → PAE
  threshold → contacts → islands → residue selection) in SQL over the
  expected tables.

The tree and expected tables are materialised once under
``.cache/af3_file_corpus`` (deterministic: seed 7, 12 jobs — the same
fixture `tests/test_sources.py` exercises).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..params import ScreenParams
from .driver_queries import register
from .driver_queries_af3 import _ISLANDS, REPORT_SELECT, base_cte

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
FILE_CORPUS_DIR = os.path.join(_REPO_ROOT, ".cache", "af3_file_corpus")
TREE_DIR = os.path.join(FILE_CORPUS_DIR, "tree")
EXPECTED_DIR = os.path.join(FILE_CORPUS_DIR, "expected")
OUT_DIR = os.path.join(FILE_CORPUS_DIR, "out")
_N_JOBS, _SEED = 12, 7

PARAMS = ScreenParams()  # reference defaults


def _ensure_file_corpus() -> None:
    from ..fixtures import write_expected_parsed, write_file_corpus

    marker = os.path.join(EXPECTED_DIR, "atoms_expected.parquet")
    if not os.path.exists(marker):
        corpus = write_file_corpus(TREE_DIR, n_jobs=_N_JOBS, seed=_SEED)
        write_expected_parsed(EXPECTED_DIR, corpus)


_ensure_file_corpus()

_E = EXPECTED_DIR
_FILE_BASE = base_cte(
    f"{_E}/predictions_expected.parquet",
    f"{_E}/chains_expected.parquet",
    f"{_E}/pae_long_expected.parquet",
    f"{_E}/atoms_expected.parquet",
)


def _tree_preds(spark: SparkSession) -> DataFrame:
    from ..sources.af3_json import read_summary_confidences

    return read_summary_confidences(spark, TREE_DIR)


def _tree_atoms(spark: SparkSession) -> DataFrame:
    from ..sources.cif import read_atoms

    return read_atoms(spark, TREE_DIR)


# ---------------------------------------------------------------------------
# O1/O2/O3/O4 — recursive scan, filename predicate, AppleDouble skip,
# JSON parse with encoding fallback and malformed⇒drop
# ---------------------------------------------------------------------------
@register(
    "file_read_summaries",
    sql=f"""
    SELECT job,
           round(coalesce(iptm, -1), 6) AS iptm,
           round(coalesce(ptm, -1), 6) AS ptm,
           round(coalesce(chain_pair_pae_min[1][2], -1), 6) AS pae_01
    FROM '{_E}/predictions_expected.parquet'
    """,
)
def file_read_summaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corrupt-JSON job must be ABSENT, the latin-1 job PRESENT
    (recovered via the Python fallback), the AppleDouble ``._*`` file
    never read, and every well-formed job parsed with nulls where the
    JSON omits keys (coalesced to -1 for hash stability)."""
    p = _tree_preds(spark)
    return p.select(
        "job",
        F.round(F.coalesce(F.col("iptm"), F.lit(-1.0)), 6).alias("iptm"),
        F.round(F.coalesce(F.col("ptm"), F.lit(-1.0)), 6).alias("ptm"),
        F.round(
            F.coalesce(
                F.try_element_at(
                    F.try_element_at("chain_pair_pae_min", F.lit(1)), F.lit(2)
                ),
                F.lit(-1.0),
            ),
            6,
        ).alias("pae_01"),
    )


# ---------------------------------------------------------------------------
# O15 at the file boundary — N×N JSON matrix → long table
# ---------------------------------------------------------------------------
@register(
    "file_read_pae_long",
    sql=f"""
    SELECT job, scored_token, aligned_token,
           round(pae::DOUBLE, 2) AS pae
    FROM '{_E}/pae_long_expected.parquet'
    """,
)
def file_read_pae_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.af3_json import read_pae_long

    pae = read_pae_long(spark, TREE_DIR)
    return pae.select(
        "job",
        "scored_token",
        "aligned_token",
        F.round(F.col("pae").cast("double"), 2).alias("pae"),
    )


# ---------------------------------------------------------------------------
# O9/O10 — CIF read (encoding fallback) + _atom_site parse
# ---------------------------------------------------------------------------
@register(
    "file_read_atoms",
    sql=f"""
    SELECT job, CAST(model_id AS INT) AS model_id, chain_id,
           CAST(residue_id AS INT) AS residue_id, residue_name, is_aa,
           atom_name, round(x, 3) AS x, round(y, 3) AS y, round(z, 3) AS z
    FROM '{_E}/atoms_expected.parquet'
    """,
)
def file_read_atoms(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = _tree_atoms(spark)
    return a.select(
        "job",
        "model_id",
        "chain_id",
        "residue_id",
        "residue_name",
        "is_aa",
        "atom_name",
        F.round("x", 3).alias("x"),
        F.round("y", 3).alias("y"),
        F.round("z", 3).alias("z"),
    )


# ---------------------------------------------------------------------------
# O10→O11 — chains table derived from parsed CIFs (ordered sequence agg,
# AF3 token rule) straight off the file boundary
# ---------------------------------------------------------------------------
@register(
    "file_chains_from_cifs",
    sql=f"""
    SELECT job, chain_id, CAST(chain_index AS INT) AS chain_index,
           CAST(token_length AS INT) AS token_length, sequence
    FROM '{_E}/chains_expected.parquet'
    """,
)
def file_chains_from_cifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.cif import chains_from_atoms

    ch = chains_from_atoms(_tree_atoms(spark))
    return ch.select(
        "job", "chain_id", "chain_index", "token_length", "sequence"
    )


# ---------------------------------------------------------------------------
# O35 — observability: rejected summary files as a queryable table
# ---------------------------------------------------------------------------
@register(
    "file_summary_errors",
    sql=f"SELECT fname FROM '{_E}/errors_expected.parquet'",
)
def file_summary_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.af3_json import read_summary_errors

    errs = read_summary_errors(spark, TREE_DIR)
    return errs.select(
        F.regexp_extract("path", r"([^/]+)$", 1).alias("fname")
    )


# ---------------------------------------------------------------------------
# O29 (+O34) — parameterised CSV report sink, written then RE-READ
# ---------------------------------------------------------------------------
def _tree_pipeline_tables(spark: SparkSession) -> dict[str, DataFrame]:
    from ..sources.af3_json import read_pae_long
    from ..sources.cif import chains_from_atoms

    atoms = _tree_atoms(spark)
    return {
        "predictions": _tree_preds(spark),
        "chains": chains_from_atoms(atoms),
        "pae_long": read_pae_long(spark, TREE_DIR),
        "atoms": atoms,
    }


@register(
    "file_sink_report_csv",
    sql=f"""
    WITH {_FILE_BASE},
    {_ISLANDS}
    {REPORT_SELECT}
    """,
)
def file_sink_report_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full file→file run: AF3 tree in, reference-named CSV out
    (:304-318), then the WRITTEN CSV is re-read and returned — the
    oracle restates the whole pipeline in SQL, so a wrong row in the
    file fails the hash."""
    from .pipeline import interaction_report, write_report

    t = _tree_pipeline_tables(spark)
    report = interaction_report(
        t["predictions"], t["chains"], t["pae_long"], t["atoms"], PARAMS
    )
    path = write_report(report, os.path.join(OUT_DIR, "report"), PARAMS)
    return spark.read.option("header", True).csv(path)


# ---------------------------------------------------------------------------
# O30 — predicate-filtered CIF sink ({job}_interaction.cif), re-read
# ---------------------------------------------------------------------------
def _partner_islands(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    from .pipeline import compute_contacts, partner_islands

    contacts = compute_contacts(
        t["predictions"], t["chains"], t["pae_long"], t["atoms"], PARAMS
    )
    return partner_islands(contacts).select("job", "partner_res")


@register(
    "file_sink_interaction_cifs",
    sql=f"""
    WITH {_FILE_BASE},
    {_ISLANDS}
    SELECT a.job, a.chain_id, CAST(a.residue_id AS INT) AS residue_id,
           a.atom_name, round(a.x, 3) AS x, round(a.y, 3) AS y,
           round(a.z, 3) AS z
    FROM atoms a
    JOIN screen s ON s.job = a.job
    WHERE a.model_id = 0
      AND (a.chain_id = 'A'
           OR (a.chain_id = 'B' AND EXISTS (
                SELECT 1 FROM lvl1 l
                WHERE l.job = a.job AND l.partner_res = a.residue_id)))
    """,
)
def file_sink_interaction_cifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the trimmed per-binder CIFs (:320-345, :382), then parse
    the WRITTEN files back: retained residues must be exactly chain A ∪
    island-member chain-B residues for every screened binder."""
    from ..operators.screen import screen_binders
    from ..operators.structures import write_interaction_cifs
    from ..sources.cif import read_atoms

    t = _tree_pipeline_tables(spark)
    islands = _partner_islands(spark, t)
    out = os.path.join(OUT_DIR, PARAMS.interaction_dir())
    binders = screen_binders(t["predictions"], PARAMS)
    write_interaction_cifs(t["atoms"], islands, out, PARAMS, jobs=binders).collect()
    back = read_atoms(
        spark, out, glob="*_interaction.cif",
        job_from_filename=r"^(.*)_interaction\.cif$",
    )
    return back.select(
        "job",
        "chain_id",
        "residue_id",
        "atom_name",
        F.round("x", 3).alias("x"),
        F.round("y", 3).alias("y"),
        F.round("z", 3).alias("z"),
    )


# ---------------------------------------------------------------------------
# O31/O32 — relabel + per-model overlay fan-out ({job}/model_{k}.cif)
# ---------------------------------------------------------------------------
@register(
    "file_sink_overlay_models",
    sql=f"""
    WITH {_FILE_BASE},
    {_ISLANDS}
    SELECT a.job, CAST(a.model_id AS INT) AS model_id, a.chain_id,
           CAST(a.residue_id AS INT) AS residue_id, a.atom_name,
           round(a.x, 3) AS x, round(a.y, 3) AS y, round(a.z, 3) AS z
    FROM atoms a
    JOIN screen s ON s.job = a.job
    WHERE a.chain_id = 'A'
       OR (a.chain_id = 'B' AND EXISTS (
            SELECT 1 FROM lvl1 l
            WHERE l.job = a.job AND l.partner_res = a.residue_id))
    """,
)
def file_sink_overlay_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-0 islands fan out to EVERY model of the job (:468-469);
    chains relabelled POI→A / partner→B (identity for default params,
    pinned by the reversed-direction pytest)."""
    from ..operators.screen import screen_binders
    from ..operators.structures import write_overlay_models
    from ..sources.cif import read_atoms

    t = _tree_pipeline_tables(spark)
    islands = _partner_islands(spark, t)
    out = os.path.join(OUT_DIR, PARAMS.overlay_dir())
    binders = screen_binders(t["predictions"], PARAMS)
    write_overlay_models(t["atoms"], islands, out, PARAMS, jobs=binders).collect()
    back = read_atoms(spark, out, glob="model_*.cif")
    return back.select(
        "job",
        "model_id",
        "chain_id",
        "residue_id",
        "atom_name",
        F.round("x", 3).alias("x"),
        F.round("y", 3).alias("y"),
        F.round("z", 3).alias("z"),
    )


# ---------------------------------------------------------------------------
# O33 — PyMOL codegen sink: the written .pml scripts, line by line
# ---------------------------------------------------------------------------
@register(
    "file_sink_pymol_scripts",
    sql=f"""
    WITH {_FILE_BASE},
    jm AS (SELECT DISTINCT a.job, CAST(a.model_id AS INT) AS k
           FROM atoms a JOIN screen s ON s.job = a.job),
    all_lines AS (
        SELECT job, 0 AS sec, k AS ord,
               'load model_' || CAST(k AS VARCHAR) || '.cif, model_'
                 || CAST(k AS VARCHAR) AS line
        FROM jm
        UNION ALL
        SELECT job, 1, k,
               'align model_' || CAST(k AS VARCHAR)
                 || ' and chain A, model_0 and chain A'
        FROM jm WHERE k > 0
        UNION ALL
        SELECT DISTINCT job, 2, 0, 'util.cbc()' FROM jm
        UNION ALL
        SELECT DISTINCT job, 3, 0, 'save ' || job || '_overlay.pse' FROM jm
    )
    SELECT job,
           CAST(row_number() OVER (PARTITION BY job ORDER BY sec, ord)
                AS INT) AS line_no,
           line
    FROM all_lines
    """,
)
def file_sink_pymol_scripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codegen parity (:477-541): load per model in order, align each
    model_k>0 onto model_0 chain A, colour, save {job}_overlay.pse.
    Paths are reduced to basenames so the hash is location-independent."""
    from ..operators.screen import screen_binders
    from ..operators.structures import pymol_scripts, write_overlay_models
    from ..sources.cif import read_atoms  # noqa: F401  (same tree reader family)

    t = _tree_pipeline_tables(spark)
    islands = _partner_islands(spark, t)
    out = os.path.join(OUT_DIR, PARAMS.overlay_dir())
    binders = screen_binders(t["predictions"], PARAMS)
    written = write_overlay_models(t["atoms"], islands, out, PARAMS, jobs=binders)
    files = written.select(
        F.regexp_extract("path", r".*/([^/]+)/[^/]+$", 1).alias("job"), "path"
    )
    pymol_scripts(files, out).collect()

    scripts = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.pml")
        .load(out)
        .select("path", "content")
    )

    def parse(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                job = os.path.basename(os.path.dirname(path))
                for i, line in enumerate(
                    bytes(content).decode("utf-8").rstrip("\n").split("\n"), 1
                ):
                    rows.append({"job": job, "line_no": i, "line": line})
            yield pd.DataFrame(rows, columns=["job", "line_no", "line"])

    lines = scripts.mapInPandas(parse, "job string, line_no int, line string")
    # normalise absolute paths in load/save statements to basenames
    return lines.withColumn(
        "line", F.regexp_replace("line", r"^(load|save) .*/", r"$1 ")
    )


# ---------------------------------------------------------------------------
# O15 side-sink — per-job PAE CSV (partitioned CSV sink), re-read
# ---------------------------------------------------------------------------
@register(
    "file_sink_pae_csv",
    sql=f"""
    SELECT job, scored_token, aligned_token,
           round(pae::DOUBLE, 2) AS pae
    FROM '{_E}/pae_long_expected.parquet'
    """,
)
def file_sink_pae_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's unconditional ``{stem}_pae.csv`` side output
    (:115-116) as a job-partitioned CSV sink; the written files are
    re-read and must reproduce the full long-form matrix."""
    from ..sources.af3_json import read_pae_long, write_pae_csv

    pae = read_pae_long(spark, TREE_DIR)
    out = os.path.join(OUT_DIR, "pae_csv")
    write_pae_csv(pae, out)
    back = spark.read.option("header", True).csv(out)
    return back.select(
        F.col("job").cast("string").alias("job"),
        F.col("scored_token").cast("int").alias("scored_token"),
        F.col("aligned_token").cast("int").alias("aligned_token"),
        F.round(F.col("pae").cast("double"), 2).alias("pae"),
    )


# ---------------------------------------------------------------------------
# JSONL corpus interchange: documents written as JSON-lines shards and
# re-read through an explicit schema — the lingua-franca drop format of
# public corpora (Dolma/RedPajama/C4 all ship JSONL). The oracle is the
# identity over the parquet source, so any write- or read-side mangling
# (escaping, encoding, type coercion, dropped nulls) breaks the hash.
# ---------------------------------------------------------------------------
_DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


@register(
    "file_sink_documents_jsonl",
    sql="SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def file_sink_documents_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = os.path.join(
        OUT_DIR, "documents_jsonl", os.path.basename(os.path.normpath(sf_dir))
    )
    docs.write.mode("overwrite").json(out)
    return spark.read.schema(_DOCS_SCHEMA).json(out).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


@register(
    "file_roundtrip_orc",
    sql="SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def file_roundtrip_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write + read identity over the documents table — the
    columnar-format breadth row next to the parquet sources and the
    JSONL round trip (ORC is the other splittable columnar format a
    100 TB lake commonly serves; Spark reads/writes it natively with
    the same pushdown/pruning machinery). Deferred — pytest-mirrored."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = os.path.join(
        OUT_DIR, "documents_orc", os.path.basename(os.path.normpath(sf_dir))
    )
    docs.write.mode("overwrite").orc(out)
    return spark.read.orc(out).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


@register(
    "file_roundtrip_csv",
    sql="SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def file_roundtrip_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV write + read identity over the documents table — the
    text-format interchange row next to parquet/ORC/JSONL: header +
    explicit schema on re-read (never inferSchema — a schema probe is
    an extra scan and a type lottery at 100 TB), quoting/escaping left
    to Spark's RFC-4180 writer, round-trip mangling (embedded quotes,
    commas, newlines in text) breaks the value hash. The re-read sets
    ``multiLine`` + the writer's escape char so a quoted value holding
    an embedded NEWLINE parses back as one row — without it the reader
    splits records on raw line breaks and a newline-bearing text field
    silently becomes two rows (advice r11; multiLine costs
    per-file-splittable parallelism, which is the honest price of
    newline-bearing CSV at any scale — prefer parquet/ORC there).
    Deferred — pytest-mirrored."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = os.path.join(
        OUT_DIR, "documents_csv", os.path.basename(os.path.normpath(sf_dir))
    )
    docs.write.mode("overwrite").option("header", True).csv(out)
    return (
        spark.read.schema(
            "doc_id long, text string, lang string, source string, "
            "n_chars long"
        )
        .option("header", True)
        .option("multiLine", True)
        .csv(out)
        .select("doc_id", "text", "lang", "source", "n_chars")
    )
