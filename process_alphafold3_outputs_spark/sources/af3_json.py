"""AF3 JSON sources — O1-O5, O15 (process_af3_outputs.py:66-124, :560-566).

Directory-scan semantics of the reference reproduced declaratively:
  - recursive walk                -> recursiveFileLookup
  - filename predicate            -> pathGlobFilter (file pruning BEFORE read)
  - AppleDouble ``._*`` exclusion -> glob + input_file_name filter
    (subsumes the reference's ``dot_clean`` subprocess, O3)
  - malformed JSON ⇒ row dropped  -> PERMISSIVE mode + corrupt-record filter
  - job key = folder basename     -> regexp over input_file_name (:348)

Scale note: pathGlobFilter prunes at file-listing time, so a 100 TB
corpus only opens summary files; the explicit schema means Jackson
parses just the three needed keys (column pruning into the JSON
parser, removing reference inefficiency I4).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SUMMARY_SCHEMA = T.StructType(
    [
        T.StructField("iptm", T.DoubleType()),
        T.StructField("ptm", T.DoubleType()),
        T.StructField(
            "chain_pair_pae_min", T.ArrayType(T.ArrayType(T.DoubleType()))
        ),
        T.StructField("_corrupt_record", T.StringType()),
    ]
)

FULL_DATA_SCHEMA = T.StructType(
    [
        T.StructField("pae", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("token_res_ids", T.ArrayType(T.IntegerType())),
        T.StructField("_corrupt_record", T.StringType()),
    ]
)

#: job key = basename of the containing folder (process_af3_outputs.py:348)
_JOB_FROM_PATH = r"^.*/([^/]+)/[^/]+$"


def _with_job(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "job", F.regexp_extract(F.input_file_name(), _JOB_FROM_PATH, 1)
    )


#: hard cap on the driver-side corrupt-path collect (encoding fallback).
#: Corrupt files are rare by construction; if a pathological corpus
#: exceeds this, the excess files simply stay dropped (the per-row
#: contract) instead of ballooning driver memory.
MAX_FALLBACK_FILES = 10_000


def _summary_scan(spark: SparkSession, input_dir: str) -> DataFrame:
    """The PERMISSIVE scan of every ``*_summary_confidences_0.json``
    file, with its ``_path`` captured."""
    return (
        spark.read.schema(SUMMARY_SCHEMA)
        .option("multiLine", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*_summary_confidences_0.json")
        .json(input_dir)
        .withColumn("_path", F.input_file_name())
        .filter(~F.col("_path").rlike(r"/\._"))  # AppleDouble junk (O2/O3)
    )


def _corrupt_files(scan: DataFrame) -> list[tuple[str, str]]:
    """(path, first 80 chars) of each summary file the JVM parse
    rejected, at most ``MAX_FALLBACK_FILES``, collected to the driver.
    The query also reads every data column: Spark refuses a raw-JSON
    query whose only data column is the corrupt record, and Jackson
    skips the columns a query does not read, so a file malformed only
    in one of those would otherwise go unnoticed."""
    rows = (
        scan.filter(F.col("_corrupt_record").isNotNull())
        .select(
            "_path",
            F.substring("_corrupt_record", 1, 80).alias("raw_prefix"),
            "iptm",
            "ptm",
            "chain_pair_pae_min",
        )
        .limit(MAX_FALLBACK_FILES)
        .collect()
    )
    return list({r["_path"]: r["raw_prefix"] for r in rows}.items())


def read_summary_confidences(spark: SparkSession, input_dir: str) -> DataFrame:
    """``predictions`` table from ``*_summary_confidences_0.json`` files.

    Corrupt/undecodable JSON drops the row (reference returns False,
    :70-80) rather than failing the query (SURVEY §2.2 #11).

    The reference's encoding fallback (:67-80 utf-8 → latin-1) is
    applied: files the JVM utf-8 parse rejected are re-read ONCE via
    binaryFile + Python json with the fallback chain. Corrupt files are
    rare by construction, so the fallback scan is a handful of files —
    the driver-side path collect is bounded and does not touch the
    happy path.
    """
    df = _summary_scan(spark, input_dir)
    bad_paths = [path for path, _ in _corrupt_files(df)]
    # the happy path drops the rejected files by path, not by the
    # corrupt-record column: a pruned query over it (``count()``,
    # ``select("job")``) would read no other JSON column, which Spark
    # refuses on a raw scan
    ok = df.filter(~F.col("_path").isin(bad_paths)) if bad_paths else df
    if len(bad_paths) >= MAX_FALLBACK_FILES:  # the files past the cap stay dropped
        ok = ok.filter(F.col("_corrupt_record").isNull())
    ok = ok.select(
        F.regexp_extract(F.col("_path"), _JOB_FROM_PATH, 1).alias("job"),
        "iptm",
        "ptm",
        "chain_pair_pae_min",
    )
    if not bad_paths:
        return ok
    return ok.unionByName(_fallback_parse(spark, bad_paths))


def _fallback_parse(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Python json parse with utf-8 → latin-1 fallback for the few files
    Jackson rejected; still-unparseable files yield no rows."""
    from collections.abc import Iterator

    files = spark.read.format("binaryFile").load(paths).select("path", "content")

    def parse(batches) -> Iterator:
        import json as _json
        import re as _re

        import pandas as pd

        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                doc = None
                for enc in ("utf-8", "latin-1"):
                    try:
                        doc = _json.loads(bytes(content).decode(enc))
                        break
                    except (UnicodeDecodeError, ValueError):
                        continue
                if not isinstance(doc, dict):
                    continue
                m = _re.match(_JOB_FROM_PATH, path)
                if not m:
                    continue

                # Defensive coercion: files routed here are exactly the
                # malformed ones, so type-mismatched values (string
                # iptm, mixed-type matrices) must degrade to NULL — an
                # Arrow schema error would abort the WHOLE query,
                # violating the "malformed inputs drop rows, never
                # queries" contract (SURVEY §2.2 #11).
                def _num(v):
                    try:
                        return float(v) if not isinstance(v, bool) else None
                    except (TypeError, ValueError):
                        return None

                cpp = doc.get("chain_pair_pae_min")
                if isinstance(cpp, list) and all(
                    isinstance(r, list) for r in cpp
                ):
                    cpp = [[_num(v) for v in r] for r in cpp]
                else:
                    cpp = None
                rows.append(
                    {
                        "job": m.group(1),
                        "iptm": _num(doc.get("iptm")),
                        "ptm": _num(doc.get("ptm")),
                        "chain_pair_pae_min": cpp,
                    }
                )
            yield pd.DataFrame(
                rows, columns=["job", "iptm", "ptm", "chain_pair_pae_min"]
            )

    return files.mapInPandas(
        parse,
        "job string, iptm double, ptm double, chain_pair_pae_min array<array<double>>",
    )


def read_pae_long(spark: SparkSession, input_dir: str) -> DataFrame:
    """``pae_long`` table from ``*_full_data_0.json``: N×N matrix →
    long form (job, scored_token, aligned_token, pae) via posexplode×2.

    The reference requires BOTH 'pae' and 'token_res_ids' keys
    (extract_pae_data, :111-113) — rows missing either are dropped.
    """
    df = (
        spark.read.schema(FULL_DATA_SCHEMA)
        .option("multiLine", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*_full_data_0.json")
        .json(input_dir)
    )
    docs = (
        _with_job(df)
        .filter(~F.input_file_name().rlike(r"/\._"))
        .filter(F.col("_corrupt_record").isNull())
        .filter(F.col("pae").isNotNull() & F.col("token_res_ids").isNotNull())
        .select("job", "pae")
    )
    rows = docs.select(
        "job", F.posexplode("pae").alias("scored_token", "_row")
    )
    return rows.select(
        "job",
        F.col("scored_token").cast("int"),
        F.posexplode("_row").alias("aligned_token", "pae"),
    ).select(
        "job",
        "scored_token",
        F.col("aligned_token").cast("int"),
        F.col("pae").cast("float"),
    )


def write_pae_matrix_csvs(pae_long: DataFrame, out_root: str) -> DataFrame:
    """Reference-exact O15 side-sink (:115-116): per job, the N×N PAE
    matrix as ``{out_root}/{job}/{job}_full_data_0_pae.csv`` — the same
    name ``pd.DataFrame(pae).to_csv(splitext(json)[0] + '_pae.csv')``
    produces next to the input JSON, so a drop-in user diffing output
    trees sees identical files. Grouped-map sink keyed by job (one file
    per group, embarrassingly parallel). Returns (job, path, n_rows)."""
    import pandas as pd

    def write_job(pdf: pd.DataFrame) -> pd.DataFrame:
        job = pdf["job"].iloc[0]
        mat = pdf.pivot_table(
            index="scored_token", columns="aligned_token", values="pae"
        ).sort_index()
        mat = mat[sorted(mat.columns)]
        mat.columns = [str(c) for c in mat.columns]
        path = os.path.join(out_root, job, f"{job}_full_data_0_pae.csv")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        mat.to_csv(path, index=False)
        return pd.DataFrame({"job": [job], "path": [path], "n_rows": [len(mat)]})

    return pae_long.groupBy("job").applyInPandas(
        write_job, "job string, path string, n_rows long"
    )


def read_summary_errors(spark: SparkSession, input_dir: str) -> DataFrame:
    """O35 observability as data, not logs: one row per summary file the
    JSON parse rejected — (path, raw_prefix). A distributed engine
    cannot grep a driver log; the errors ARE a queryable side output
    (SURVEY §2 O35: 'per-row error tracking as an errors DataFrame').
    The rows are collected when this is called (bounded, like the
    fallback's path collect) and handed back as a small DataFrame."""
    return spark.createDataFrame(
        _corrupt_files(_summary_scan(spark, input_dir)),
        "path string, raw_prefix string",
    )
