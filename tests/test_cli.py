"""The drop-in CLI: reference flags in, reference output contract out."""

from __future__ import annotations

import os

import pytest

from process_alphafold3_outputs_spark.cli import build_parser, run
from process_alphafold3_outputs_spark.fixtures import write_file_corpus


def _persisted(spark, corpus_dir: str) -> set:
    """Persisted RDD ids, after materialising the summary reader's own
    JSON-scan cache for ``corpus_dir`` (the reader keeps it; the CLI's
    binders/contacts caches are what must not outlive a run)."""
    from process_alphafold3_outputs_spark.sources.af3_json import (
        read_summary_confidences,
    )

    read_summary_confidences(spark, corpus_dir).count()
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def test_cli_end_to_end(spark, tmp_path):
    corpus_dir = str(tmp_path / "corpus")
    out_dir = str(tmp_path / "out")
    write_file_corpus(corpus_dir, n_jobs=6, seed=4)

    args = build_parser().parse_args(
        ["-id", corpus_dir, "--output-dir", out_dir, "-pae", "15.0"]
    )
    result = run(args, spark=spark)

    assert result["n_binders"] > 0
    csv = os.path.join(out_dir, "interaction_analysis_PAE_15.0_max_dist_8.0.csv")
    assert os.path.exists(csv)
    header = open(csv).readline().strip().split(",")
    assert header == [
        "Folder_name",
        "Contact_residues_POI_chain_A",
        "Contact_sequence",
        "Interacting_residues_Partner_chain_B",
        "Interacting_sequence",
    ]
    int_dir = os.path.join(out_dir, "Interaction_cif_files_PAE_15.0_maxdist_8.0")
    assert any(f.endswith("_interaction.cif") for f in os.listdir(int_dir))
    ov_dir = os.path.join(out_dir, "Overlays_PAE_15.0_maxdist_8.0")
    jobs = [d for d in os.listdir(ov_dir) if os.path.isdir(os.path.join(ov_dir, d))]
    assert jobs
    j0 = os.path.join(ov_dir, jobs[0])
    assert "align_and_save.pml" in os.listdir(j0)
    assert "model_0.cif" in os.listdir(j0)


def test_cli_report_only(spark, tmp_path):
    corpus_dir = str(tmp_path / "c2")
    out_dir = str(tmp_path / "o2")
    write_file_corpus(corpus_dir, n_jobs=4, seed=3)
    args = build_parser().parse_args(
        ["-id", corpus_dir, "--output-dir", out_dir, "--skip-structures"]
    )
    before = _persisted(spark, corpus_dir)
    result = run(args, spark=spark)
    assert result["interaction_cifs"] == 0
    assert os.path.exists(result["csv"])
    assert _persisted(spark, corpus_dir) - before == set()  # borrowed session: no pins left


def test_cli_releases_caches_when_a_sink_fails(spark, tmp_path, monkeypatch):
    from process_alphafold3_outputs_spark.sources import af3_json

    corpus_dir = str(tmp_path / "c2f")
    write_file_corpus(corpus_dir, n_jobs=4, seed=3)
    args = build_parser().parse_args(
        ["-id", corpus_dir, "--output-dir", str(tmp_path / "o2f"), "--skip-structures"]
    )

    def failing_sink(*_a, **_k):
        raise RuntimeError("sink failed")

    # the PAE CSV sink runs after the report has materialised both caches
    monkeypatch.setattr(af3_json, "write_pae_matrix_csvs", failing_sink)
    before = _persisted(spark, corpus_dir)
    with pytest.raises(RuntimeError, match="sink failed"):
        run(args, spark=spark)
    assert _persisted(spark, corpus_dir) - before == set()


def test_cli_watch_once(spark, tmp_path):
    corpus_dir = str(tmp_path / "c3")
    out_dir = str(tmp_path / "o3")
    write_file_corpus(corpus_dir, n_jobs=4, seed=8)
    args = build_parser().parse_args(
        ["-id", corpus_dir, "--output-dir", out_dir, "--watch-once"]
    )
    result = run(args, spark=spark)
    assert result["n_binders"] > 0
    assert os.path.exists(result["stream_out"])


def test_ingest_then_query_from_tables(spark, tmp_path):
    corpus_dir = str(tmp_path / "c4")
    tables = str(tmp_path / "tables")
    out1 = str(tmp_path / "o4a")
    out2 = str(tmp_path / "o4b")
    write_file_corpus(corpus_dir, n_jobs=6, seed=12)

    r_ing = run(
        build_parser().parse_args(["-id", corpus_dir, "--ingest", tables]),
        spark=spark,
    )
    assert set(r_ing["tables"]) == {"predictions", "chains", "pae_long", "atoms"}
    assert any(
        d.startswith("job_bucket=") for d in os.listdir(os.path.join(tables, "pae_long"))
    )

    # same report whether from raw files or from ingested tables
    r_files = run(
        build_parser().parse_args(
            ["-id", corpus_dir, "--output-dir", out1, "--skip-structures"]
        ),
        spark=spark,
    )
    r_tables = run(
        build_parser().parse_args(
            ["-id", corpus_dir, "--from-tables", tables, "--output-dir", out2,
             "--skip-structures"]
        ),
        spark=spark,
    )
    rows1 = sorted(open(r_files["csv"]).read().splitlines())
    rows2 = sorted(open(r_tables["csv"]).read().splitlines())
    assert rows1 == rows2 and len(rows1) > 1


def test_cli_emits_reference_named_pae_csvs(spark, tmp_path):
    """Reference parity (:567-575): jobs PASSING the binder screen get
    {out}/{job}/{job}_full_data_0_pae.csv holding the N×N matrix with
    pandas-style 0..N-1 headers (extract_pae_data runs inside the
    is_binder branch — non-binders get NO file); --no-emit-pae-csv
    skips the sink."""
    import pandas as pd

    corpus_dir = str(tmp_path / "c5")
    out_dir = str(tmp_path / "o5")
    corpus = write_file_corpus(corpus_dir, n_jobs=4, seed=9)
    args = build_parser().parse_args(
        ["-id", corpus_dir, "--output-dir", out_dir, "--skip-structures"]
    )
    result = run(args, spark=spark)
    # seed 9: jobs 0000/0002 pass the default screen (pae_min < 15),
    # 0001 (18.41) and 0003 (24.9) do not; the latin-1 landmine job also
    # screens as a binder but ships no full-data JSON — so 3 binders,
    # only the 2 with a PAE matrix get a CSV.
    assert result["n_binders"] == 3
    assert result["pae_csvs"] == 2
    non_binder = "fold_poi_partner_0001"
    assert not os.path.exists(
        os.path.join(out_dir, non_binder, f"{non_binder}_full_data_0_pae.csv")
    )

    job = "fold_poi_partner_0002"
    path = os.path.join(out_dir, job, f"{job}_full_data_0_pae.csv")
    got = pd.read_csv(path)
    jp = corpus["pae_long"]
    jp = jp[jp.job == job]
    n = int(jp.aligned_token.max()) + 1
    assert list(got.columns) == [str(i) for i in range(n)]
    want = (
        jp.pivot_table(index="scored_token", columns="aligned_token", values="pae")
        .sort_index()
        .to_numpy()
    )
    import numpy as np

    assert got.shape == (n, n)
    assert np.allclose(got.to_numpy(), want, atol=1e-4)

    out2 = str(tmp_path / "o5b")
    r2 = run(
        build_parser().parse_args(
            ["-id", corpus_dir, "--output-dir", out2, "--skip-structures",
             "--no-emit-pae-csv"]
        ),
        spark=spark,
    )
    assert r2["pae_csvs"] == 0
    assert not os.path.exists(os.path.join(out2, job, f"{job}_full_data_0_pae.csv"))


def test_cli_write_log_materialises_errors(spark, tmp_path):
    corpus_dir = str(tmp_path / "c6")
    out_dir = str(tmp_path / "o6")
    write_file_corpus(corpus_dir, n_jobs=4, seed=5)
    args = build_parser().parse_args(
        ["-id", corpus_dir, "--output-dir", out_dir, "--skip-structures",
         "--no-emit-pae-csv", "--write-log"]
    )
    result = run(args, spark=spark)
    text = open(result["log"]).read()
    assert "corrupt_json_job_summary_confidences_0.json" in text
    assert "ERROR - Invalid JSON" in text


def test_cli_distributed_csv_sink(spark, tmp_path):
    """--distributed-csv writes the parallel directory sink with the
    reference name; rows match the single-file path exactly."""
    corpus_dir = str(tmp_path / "c7")
    write_file_corpus(corpus_dir, n_jobs=5, seed=6)
    out_a = str(tmp_path / "o7a")
    out_b = str(tmp_path / "o7b")
    r1 = run(
        build_parser().parse_args(
            ["-id", corpus_dir, "--output-dir", out_a, "--skip-structures",
             "--no-emit-pae-csv"]
        ),
        spark=spark,
    )
    r2 = run(
        build_parser().parse_args(
            ["-id", corpus_dir, "--output-dir", out_b, "--skip-structures",
             "--no-emit-pae-csv", "--distributed-csv"]
        ),
        spark=spark,
    )
    assert os.path.isfile(r1["csv"]) and os.path.isdir(r2["csv"])
    assert r1["n_report_rows"] == r2["n_report_rows"] > 0
    import pandas as pd

    a = pd.read_csv(r1["csv"]).sort_values("Folder_name").reset_index(drop=True)
    b = (
        spark.read.option("header", True).csv(r2["csv"])
        .toPandas()
        .sort_values("Folder_name")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a.astype(str), b.astype(str))


# --------------------------------------------------------------------------
# corpus curation CLI
# --------------------------------------------------------------------------


def test_corpus_cli_commands_roundtrip(spark, tmp_path):
    """Each corpus_cli command writes parquet whose rows equal the
    library operator's own output — the CLI is a pure shell."""
    from pyspark.sql import functions as F

    from process_alphafold3_outputs_spark import corpus_cli
    from process_alphafold3_outputs_spark.operators import dedup, text

    sf = "/root/testdata/sf0.001"
    docs_path = f"{sf}/documents.parquet"
    emb_path = f"{sf}/embeddings.parquet"
    docs = spark.read.parquet(docs_path)

    def run_cmd(argv):
        args = corpus_cli.build_parser().parse_args(argv)
        return corpus_cli.run(args, spark)

    out = str(tmp_path / "stats")
    res = run_cmd(["stats", "--documents", docs_path, "--out", out])
    assert res["rows"] == text.corpus_stats(docs).count() > 0

    out = str(tmp_path / "quality")
    res = run_cmd(["quality", "--documents", docs_path, "--out", out])
    assert res["rows"] == docs.count()
    got = spark.read.parquet(out)
    assert set(got.columns) >= {"doc_id", "n_words", "keep"}

    out = str(tmp_path / "dedup_para")
    res = run_cmd(
        ["dedup", "--documents", docs_path, "--mode", "paragraphs",
         "--seg-words", "8", "--out", out]
    )
    assert res["rows"] == dedup.segment_dedup(docs, seg_words=8).count()

    out = str(tmp_path / "decon")
    res = run_cmd(
        ["decontaminate", "--documents", docs_path, "--benchmark", docs_path,
         "--bloom", "--m-bits", str(1 << 16), "--out", out]
    )
    # benchmark == corpus: every doc must self-flag
    got = spark.read.parquet(out)
    assert got.filter(F.col("contaminated") == 0).count() == 0

    out = str(tmp_path / "km")
    res = run_cmd(
        ["kmeans", "--embeddings", emb_path, "-k", "4", "--iters", "1",
         "--out", out]
    )
    assert res["rows"] == spark.read.parquet(emb_path).count()

    out = str(tmp_path / "pack")
    res = run_cmd(
        ["pack", "--documents", docs_path, "--seq-tokens", "256", "--out", out]
    )
    got = spark.read.parquet(out)
    assert res["rows"] > 0 and "seq_id" in got.columns


def test_corpus_cli_new_commands_roundtrip(spark, tmp_path):
    """classify / mix / dedup-incremental are pure shells over the
    tested operators, like the original eight commands."""
    from process_alphafold3_outputs_spark import corpus_cli
    from process_alphafold3_outputs_spark.operators import dedup, text

    sf = "/root/testdata/sf0.001"
    docs_path = f"{sf}/documents.parquet"
    docs = spark.read.parquet(docs_path)

    def run_cmd(argv):
        args = corpus_cli.build_parser().parse_args(argv)
        return corpus_cli.run(args, spark)

    out = str(tmp_path / "clf")
    res = run_cmd(["classify", "--documents", docs_path, "--out", out])
    assert res["rows"] == docs.count()
    got = spark.read.parquet(out)
    assert set(got.columns) == {"doc_id", "clf_score", "keep"}

    out = str(tmp_path / "mix")
    res = run_cmd(
        ["mix", "--documents", docs_path, "--budget", "src0=500",
         "--budget", "src1=300", "--out", out]
    )
    lib = text.mix_by_budget(docs, {"src0": 500, "src1": 300})
    assert res["rows"] == lib.count()

    # incremental: history = the corpus itself => zero survivors
    hashes = str(tmp_path / "hist_hashes")
    dedup.exact_dedup(docs).select("text_hash").write.parquet(hashes)
    out = str(tmp_path / "inc")
    res = run_cmd(
        ["dedup-incremental", "--documents", docs_path, "--hashes", hashes,
         "--out", out]
    )
    assert res["rows"] == 0
    # rolled-forward hash table written beside the survivors
    rolled = spark.read.parquet(out + "_hashes")
    assert rolled.count() == dedup.exact_dedup(docs).count()


def test_corpus_cli_pack_bfd_policy(spark, tmp_path):
    from pyspark.sql import functions as F

    from process_alphafold3_outputs_spark import corpus_cli

    sf = "/root/testdata/sf0.001"
    out = str(tmp_path / "packed_bfd")
    args = corpus_cli.build_parser().parse_args(
        ["pack", "--documents", f"{sf}/documents.parquet", "--chunk-tokens",
         "32", "--overlap", "8", "--seq-tokens", "64", "--policy", "bfd",
         "--out", out]
    )
    res = corpus_cli.run(args, spark)
    got = spark.read.parquet(out)
    assert res["rows"] == got.count() > 0
    # the BFD invariant the policy buys: nothing straddles (chunks of
    # 32 tokens always fit the 64-token sequences)
    assert got.filter(F.col("seq_offset") + F.col("n_tokens") > 64).count() == 0


def test_corpus_cli_semdedup_and_perplexity(spark, tmp_path):
    from process_alphafold3_outputs_spark import corpus_cli

    sf = "/root/testdata/sf0.001"
    docs_path = f"{sf}/documents.parquet"
    emb_path = f"{sf}/embeddings.parquet"

    def run_cmd(argv):
        args = corpus_cli.build_parser().parse_args(argv)
        return corpus_cli.run(args, spark)

    out = str(tmp_path / "semdedup")
    res = run_cmd(
        ["semdedup", "--embeddings", emb_path, "--out", out,
         "-k", "4", "--eps", "0.5"]
    )
    got = spark.read.parquet(out)
    assert res["rows"] == spark.read.parquet(emb_path).count()
    assert set(got.columns) == {"vec_id", "cluster", "sim", "kept"}

    out = str(tmp_path / "ppl")
    res = run_cmd(
        ["perplexity", "--documents", docs_path, "--out", out]
    )
    got = spark.read.parquet(out)
    assert res["rows"] == spark.read.parquet(docs_path).count()
    assert set(got.columns) == {"doc_id", "n_bigrams", "avg_nll", "ppl"}


def test_corpus_cli_interleave_writes_ordered_shards(spark, tmp_path):
    import glob as _glob

    from process_alphafold3_outputs_spark import corpus_cli

    sf = "/root/testdata/sf0.001"
    out = str(tmp_path / "interleaved")
    args = corpus_cli.build_parser().parse_args(
        ["interleave", "--documents", f"{sf}/documents.parquet", "--out", out,
         "--weight", "src0=4", "--shards", "4"]
    )
    res = corpus_cli.run(args, spark)
    assert res["rows"] == spark.read.parquet(f"{sf}/documents.parquet").count()
    files = sorted(_glob.glob(out + "/part-*.parquet"))
    ranges = []
    for f in files:
        vals = [r.order_key for r in spark.read.parquet(f).collect()]
        assert vals == sorted(vals)
        if vals:
            ranges.append((min(vals), max(vals)))
    for (_, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2


def test_corpus_cli_curate(spark, tmp_path):
    from process_alphafold3_outputs_spark import corpus_cli
    from process_alphafold3_outputs_spark.plans.corpus import curate_corpus

    sf = "/root/testdata/sf0.001"
    out = str(tmp_path / "curated")
    args = corpus_cli.build_parser().parse_args(
        ["curate", "--documents", f"{sf}/documents.parquet", "--out", out,
         "--max-avg-nll", "99"]
    )
    res = corpus_cli.run(args, spark)
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    want = curate_corpus(docs, max_avg_nll=99.0).count()
    assert res["rows"] == want > 0


def test_cli_rmsd_flag(spark, tmp_path):
    """--rmsd writes overlay_rmsd.csv with one row per (binder job,
    non-reference model); the fixture's model 1 is a rigid translation
    of model 0, so every rmsd is ~0 after optimal superposition."""
    corpus_dir = str(tmp_path / "corpus")
    out_dir = str(tmp_path / "out")
    write_file_corpus(corpus_dir, n_jobs=5, seed=6)

    args = build_parser().parse_args(
        ["-id", corpus_dir, "--output-dir", out_dir, "--rmsd",
         "--no-emit-pae-csv"]
    )
    result = run(args, spark=spark)
    # one row per binder job WITH structures (the latin1_job landmine is
    # a binder whose CIFs don't exist) x each non-reference model
    ov_dir = os.path.join(out_dir, "Overlays_PAE_15.0_maxdist_8.0")
    jobs_with_models = [
        d for d in os.listdir(ov_dir)
        if os.path.isdir(os.path.join(ov_dir, d))
        and "model_1.cif" in os.listdir(os.path.join(ov_dir, d))
    ]
    assert result["rmsd_rows"] == len(jobs_with_models) > 0
    path = os.path.join(out_dir, "overlay_rmsd.csv")
    assert result["rmsd_csv"] == path
    import csv as _csv

    rows = list(_csv.DictReader(open(path)))
    assert len(rows) == result["rmsd_rows"]
    assert all(r["model_id"] == "1" for r in rows)
    assert all(abs(float(r["rmsd"])) < 1e-3 for r in rows)


def test_corpus_cli_entities_bpe_ann(spark, tmp_path):
    """Round-6 CLI commands: entities, train-bpe, ann-index/ann-query —
    thin shells over the tested kernels."""
    import numpy as np

    from process_alphafold3_outputs_spark.corpus_cli import build_parser, run

    # -- entities over a small (id, name) table
    names = str(tmp_path / "names")
    spark.createDataFrame(
        [(1, "Hot Rod"), (2, "hot  rod"), (3, "hot rods"), (4, "cold bolt")],
        "id long, name string",
    ).write.parquet(names)
    out = str(tmp_path / "ents")
    res = run(build_parser().parse_args(
        ["entities", "--input", names, "--out", out,
         "--id-col", "id", "--name-col", "name", "--max-distance", "1"]),
        spark=spark)
    assert res["rows"] == 4
    ents = {r.id: r.entity_id for r in spark.read.parquet(out).collect()}
    assert ents == {1: 1, 2: 1, 3: 1, 4: 4}

    # -- train-bpe over a tiny corpus
    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [(0, "low low lower"), (1, "low lowest")], "doc_id long, text string"
    ).write.parquet(docs)
    out2 = str(tmp_path / "merges")
    res = run(build_parser().parse_args(
        ["train-bpe", "--documents", docs, "--out", out2, "--merges", "4"]),
        spark=spark)
    assert res["rows"] >= 1
    m0 = spark.read.parquet(out2).orderBy("rank").first()
    assert (m0.left, m0.right) == ("l", "o")  # 'lo' appears in every word

    # -- ann-index then ann-query round trip
    emb = str(tmp_path / "emb")
    spark.createDataFrame(
        [(int(i), [float(x) for x in np.random.RandomState(i).randn(8)])
         for i in range(20)],
        "vec_id long, embedding array<float>",
    ).write.parquet(emb)
    idx = str(tmp_path / "index")
    res = run(build_parser().parse_args(
        ["ann-index", "--embeddings", emb, "--out", idx, "--cells", "4"]),
        spark=spark)
    assert res["rows"] == 20
    out3 = str(tmp_path / "hits")
    res = run(build_parser().parse_args(
        ["ann-query", "--embeddings", emb, "--index", idx,
         "--centroids", idx + "_centroids", "--out", out3, "--k", "3"]),
        spark=spark)
    assert res["rows"] == 60  # 20 queries x k=3


def test_corpus_cli_dsir_and_banded_clean(spark, tmp_path):
    """r7 commands: dsir weights/sample and clean --near-dedup
    minhash_bands are pure shells over the tested operators."""
    from pyspark.sql import functions as F

    from process_alphafold3_outputs_spark import corpus_cli
    from process_alphafold3_outputs_spark.operators import text
    from process_alphafold3_outputs_spark.plans import corpus as corpus_plans

    sf = "/root/testdata/sf0.001"
    docs_path = f"{sf}/documents.parquet"
    docs = spark.read.parquet(docs_path)
    target_path = str(tmp_path / "target")
    docs.filter(F.col("lang") == "en").write.parquet(target_path)

    def run_cmd(argv):
        args = corpus_cli.build_parser().parse_args(argv)
        return corpus_cli.run(args, spark)

    out = str(tmp_path / "dsirw")
    res = run_cmd(
        ["dsir", "--documents", docs_path, "--target", target_path,
         "--m-buckets", "64", "--out", out]
    )
    want = text.dsir_log_weights(
        docs, docs.filter(F.col("lang") == "en"), m_buckets=64
    )
    assert res["rows"] == want.count() == docs.count()
    got = {(r.doc_id, r.log_weight)
           for r in spark.read.parquet(out).collect()}
    assert got == {(r.doc_id, r.log_weight) for r in want.collect()}

    out = str(tmp_path / "dsirs")
    res = run_cmd(
        ["dsir", "--documents", docs_path, "--target", target_path,
         "--m-buckets", "64", "-k", "7", "--out", out]
    )
    assert res["rows"] == 7

    out = str(tmp_path / "banded")
    res = run_cmd(
        ["clean", "--documents", docs_path,
         "--near-dedup", "minhash_bands", "--out", out]
    )
    want_n = corpus_plans.clean_corpus(
        docs, near_dedup="minhash_bands"
    ).count()
    assert res["rows"] == want_n > 0

    out = str(tmp_path / "bpe_b")
    res = run_cmd(
        ["train-bpe", "--documents", docs_path, "--merges", "6",
         "--batch-merges", "3", "--out", out]
    )
    assert res["rows"] <= 6
    got = spark.read.parquet(out)
    assert set(got.columns) == {"rank", "left", "right", "merged",
                                "n_occurrences"}


def test_corpus_cli_ann_pq_index_and_query(spark, tmp_path):
    from pyspark.sql import functions as F

    from process_alphafold3_outputs_spark import corpus_cli
    from process_alphafold3_outputs_spark.operators import similarity

    sf = "/root/testdata/sf0.001"
    emb_path = f"{sf}/embeddings.parquet"
    emb = spark.read.parquet(emb_path)

    def run_cmd(argv):
        args = corpus_cli.build_parser().parse_args(argv)
        return corpus_cli.run(args, spark)

    codes_out = str(tmp_path / "pq_codes")
    res = run_cmd(
        ["ann-index-pq", "--embeddings", emb_path, "--cells", "8",
         "--out", codes_out]
    )
    assert res["rows"] == emb.count()

    qpath = str(tmp_path / "queries")
    emb.filter(F.col("vec_id") < 3).write.parquet(qpath)
    hits_out = str(tmp_path / "pq_hits")
    res = run_cmd(
        ["ann-query-pq", "--embeddings", qpath, "--codes", codes_out,
         "--centroids", codes_out + "_centroids",
         "--codebooks", codes_out + "_codebooks",
         "--k", "3", "--out", hits_out]
    )
    want = similarity.topk_ivfpq(
        emb, F.col("vec_id") < 3, k=3, n_cells=8, n_probe=2
    )
    got = {tuple(r) for r in spark.read.parquet(hits_out).collect()}
    assert got == {tuple(r) for r in want.collect()} and res["rows"] > 0


def test_corpus_cli_dedup_substrings(spark, tmp_path):
    from process_alphafold3_outputs_spark import corpus_cli
    from process_alphafold3_outputs_spark.operators import dedup

    sf = "/root/testdata/sf0.001"
    docs_path = f"{sf}/documents.parquet"
    docs = spark.read.parquet(docs_path)
    out = str(tmp_path / "substr")
    args = corpus_cli.build_parser().parse_args(
        ["dedup", "--documents", docs_path, "--mode", "substrings",
         "--min-words", "8", "--out", out]
    )
    res = corpus_cli.run(args, spark)
    assert res["rows"] == docs.count()
    got = spark.read.parquet(out)
    assert set(got.columns) == {
        "doc_id", "n_words", "n_spans", "n_dup_words", "clean_text"
    }
    # the sf0.001 corpus has real duplicated runs at this gram length
    assert got.filter("n_spans > 0").count() > 0
    want = dedup.strip_duplicate_spans(docs, min_words=8)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_corpus_cli_curation_round7_commands(spark, tmp_path):
    """train-classifier / classify --weights / audit / c4 / ccnet /
    epochs are pure shells over the tested operators; the trained
    model round-trips through parquet into the scoring gate with its
    bias row honored."""
    from process_alphafold3_outputs_spark import corpus_cli
    from process_alphafold3_outputs_spark.operators import text as text_ops

    sf = "/root/testdata/sf0.001"
    docs_path = f"{sf}/documents.parquet"
    docs = spark.read.parquet(docs_path)
    n = docs.count()

    def run_cmd(argv):
        args = corpus_cli.build_parser().parse_args(argv)
        return corpus_cli.run(args, spark)

    model_out = str(tmp_path / "model")
    res = run_cmd(
        ["train-classifier", "--documents", docs_path,
         "--positive-sources", "src0,src1", "--dim", "16", "--iters", "2",
         "--out", model_out]
    )
    assert res["rows"] == 17  # dim + bias row
    model = spark.read.parquet(model_out)
    assert {r["bucket"] for r in model.collect()} == set(range(-1, 16))

    # trained weights (incl. bias at bucket -1) feed the scoring gate
    out = str(tmp_path / "scored")
    res = run_cmd(
        ["classify", "--documents", docs_path, "--weights", model_out,
         "--out", out]
    )
    assert res["rows"] == n
    mrows = {r["bucket"]: r["weight"] for r in model.collect()}
    bias = mrows.pop(-1)
    lib = {
        r["doc_id"]: r["clf_score"]
        for r in text_ops.classifier_score(
            docs, [mrows.get(b, 0.0) for b in range(16)], bias=bias
        ).collect()
    }
    got = {
        r["doc_id"]: r["clf_score"] for r in spark.read.parquet(out).collect()
    }
    assert got == lib

    out = str(tmp_path / "audit")
    res = run_cmd(["audit", "--documents", docs_path, "--out", out])
    assert res["rows"] == n  # every doc explained
    assert "dropped_at" in spark.read.parquet(out).columns

    out = str(tmp_path / "c4")
    res = run_cmd(["c4", "--documents", docs_path, "--out", out])
    assert res["rows"] == n

    out = str(tmp_path / "ccnet")
    res = run_cmd(["ccnet", "--documents", docs_path, "--out", out])
    assert res["rows"] == n
    assert set(
        r["bucket"] for r in spark.read.parquet(out).select("bucket").distinct().collect()
    ) <= {"head", "middle", "tail"}

    out = str(tmp_path / "epochs")
    res = run_cmd(
        ["epochs", "--documents", docs_path, "--factor", "src0=2.0",
         "--factor", "src1=0.5", "--out", out]
    )
    exp = text_ops.epoch_expand(docs, {"src0": 2.0, "src1": 0.5}).count()
    assert res["rows"] == exp > 0


def test_corpus_cli_report_tokens(spark, tmp_path):
    from process_alphafold3_outputs_spark import corpus_cli

    sf = "/root/testdata/sf0.001"
    out = str(tmp_path / "ledger")
    args = corpus_cli.build_parser().parse_args(
        ["report-tokens", "--documents", f"{sf}/documents.parquet",
         "--factor", "src0=2.0", "--factor", "src1=0.5", "--out", out]
    )
    res = corpus_cli.run(args, spark)
    got = spark.read.parquet(out)
    assert res["rows"] == got.count() > 0
    cols = set(got.columns)
    assert {"source", "raw_tokens", "clean_tokens", "train_tokens"} <= cols


def test_corpus_cli_round8_commands(spark, tmp_path):
    """Roundtrip the round-8 CLI surface: containment dedup,
    script-profile, crawl diff, hybrid search."""
    from process_alphafold3_outputs_spark import corpus_cli

    sf = "/root/testdata/sf0.001"
    docs = f"{sf}/documents.parquet"

    out = str(tmp_path / "cont")
    args = corpus_cli.build_parser().parse_args(
        ["dedup", "--mode", "containment", "--documents", docs,
         "--containment-threshold", "0.6", "--out", out]
    )
    res = corpus_cli.run(args, spark)
    got = spark.read.parquet(out)
    assert res["rows"] == got.count()
    assert {"doc_id", "container_id", "containment"} <= set(got.columns)

    out = str(tmp_path / "script")
    args = corpus_cli.build_parser().parse_args(
        ["script-profile", "--documents", docs, "--out", out]
    )
    res = corpus_cli.run(args, spark)
    got = spark.read.parquet(out)
    assert res["rows"] == got.count() > 0
    assert {"main_script", "latin", "other"} <= set(got.columns)

    out = str(tmp_path / "diff")
    args = corpus_cli.build_parser().parse_args(
        ["diff", "--old", docs, "--documents", docs, "--out", out]
    )
    res = corpus_cli.run(args, spark)
    got = spark.read.parquet(out)
    assert res["rows"] == got.count() > 0
    # identical drops: everything unchanged
    assert got.filter(got.status != "unchanged").count() == 0

    out = str(tmp_path / "hyb")
    args = corpus_cli.build_parser().parse_args(
        ["search", "--documents", docs,
         "--embeddings", f"{sf}/embeddings.parquet",
         "--terms", "spark,query", "--query-vec-id", "3", "--out", out]
    )
    res = corpus_cli.run(args, spark)
    got = spark.read.parquet(out)
    assert res["rows"] == got.count() > 0
    assert {"doc_id", "rrf_score", "rk"} <= set(got.columns)


def test_corpus_cli_mix_doremi_roundtrip(spark, tmp_path):
    """Roundtrip the mix-doremi CLI: weight-table form and the
    budget-draw form (drawn rows respect their domain budgets)."""
    from process_alphafold3_outputs_spark import corpus_cli

    docs = "/root/testdata/sf0.001/documents.parquet"

    out = str(tmp_path / "drmw")
    args = corpus_cli.build_parser().parse_args(
        ["mix-doremi", "--documents", docs, "--iters", "3", "--out", out]
    )
    res = corpus_cli.run(args, spark)
    got = spark.read.parquet(out)
    assert res["rows"] == got.count() > 0
    assert {"source", "loss", "excess", "weight"} <= set(got.columns)

    out = str(tmp_path / "drms")
    args = corpus_cli.build_parser().parse_args(
        ["mix-doremi", "--documents", docs, "--total-tokens", "5000",
         "--out", out]
    )
    res = corpus_cli.run(args, spark)
    got = spark.read.parquet(out).toPandas()
    assert res["rows"] == len(got) > 0
    assert (got.cum_tokens <= got.budget).all()


def test_corpus_cli_compare_roundtrip(spark, tmp_path):
    """Roundtrip the compare CLI (Fightin'-Words log-odds): lang-group
    form works, and asking for zero or two groups is rejected."""
    import pytest

    from process_alphafold3_outputs_spark import corpus_cli

    docs = "/root/testdata/sf0.001/documents.parquet"
    out = str(tmp_path / "cmp")
    args = corpus_cli.build_parser().parse_args(
        ["compare", "--documents", docs, "--group-lang", "en", "--out", out]
    )
    res = corpus_cli.run(args, spark)
    got = spark.read.parquet(out)
    assert res["rows"] == got.count() > 0
    assert {"tok", "count_a", "count_b", "delta", "z"} <= set(got.columns)

    bad = corpus_cli.build_parser().parse_args(
        ["compare", "--documents", docs, "--out", out]
    )
    with pytest.raises(SystemExit):
        corpus_cli.run(bad, spark)


def test_corpus_cli_langs_roundtrip(spark, tmp_path):
    """Roundtrip the langs CLI: profile form and segment-split form."""
    from process_alphafold3_outputs_spark import corpus_cli

    docs = "/root/testdata/sf0.001/documents.parquet"

    out = str(tmp_path / "prof")
    args = corpus_cli.build_parser().parse_args(
        ["langs", "--documents", docs, "--out", out]
    )
    res = corpus_cli.run(args, spark)
    got = spark.read.parquet(out)
    assert res["rows"] == got.count() > 0
    assert {"dominant_lang", "dominant_frac", "n_langs"} <= set(got.columns)

    out = str(tmp_path / "segs")
    args = corpus_cli.build_parser().parse_args(
        ["langs", "--documents", docs, "--split", "--out", out]
    )
    res = corpus_cli.run(args, spark)
    got = spark.read.parquet(out)
    assert res["rows"] == got.count() > 0
    assert {"seg_id", "lang", "seg_text"} <= set(got.columns)


def test_corpus_cli_expect_roundtrip(spark, tmp_path):
    """Roundtrip the expect CLI: flag-built rules produce one report
    row each; zero rules is rejected."""
    import pytest

    from process_alphafold3_outputs_spark import corpus_cli

    orders = "/root/testdata/sf0.001/orders.parquet"
    out = str(tmp_path / "exp")
    args = corpus_cli.build_parser().parse_args(
        ["expect", "--input", orders, "--unique", "o_orderkey",
         "--not-null", "o_custkey", "--range", "o_totalprice:0:250000",
         "--in-set", "o_orderstatus:O,F",
         "--regex", "o_orderpriority:^[0-9]-", "--out", out]
    )
    res = corpus_cli.run(args, spark)
    got = spark.read.parquet(out)
    assert res["rows"] == got.count() == 5
    rows = {(r.column, r.check): r for r in got.collect()}
    assert rows[("o_orderkey", "unique")].passed
    assert not rows[("o_orderstatus", "in_set")].passed

    bad = corpus_cli.build_parser().parse_args(
        ["expect", "--input", orders, "--out", out]
    )
    with pytest.raises(SystemExit):
        corpus_cli.run(bad, spark)


def test_corpus_cli_privacy_roundtrip(spark, tmp_path):
    """Roundtrip the privacy CLI: violation-groups mode, l-diversity
    mode, and the one-row --report mode over the same table."""
    from process_alphafold3_outputs_spark import corpus_cli

    cust = "/root/testdata/sf0.001/customer.parquet"

    def run(extra, out_name):
        out = str(tmp_path / out_name)
        args = corpus_cli.build_parser().parse_args(
            ["privacy", "--input", cust, "--quasi", "c_nationkey",
             "--quasi", "c_mktsegment", "--k", "10", "--out", out] + extra
        )
        res = corpus_cli.run(args, spark)
        return res, spark.read.parquet(out)

    res, got = run([], "kanon")
    assert res["rows"] == got.count() > 0
    assert got.filter("group_size >= 10").count() == 0

    res2, got2 = run(["--sensitive", "c_acctbal", "--l", "2"], "ldiv")
    assert res2["rows"] == got2.count()
    assert "n_sensitive" in got2.columns

    res3, got3 = run(["--report"], "risk")
    r = got3.collect()[0]
    assert res3["rows"] == 1 and r.k == 10
    assert 0.0 <= r.at_risk_frac <= 1.0
    assert r.n_rows_at_risk <= r.n_rows


def test_corpus_cli_join_size_roundtrip(spark, tmp_path):
    """Roundtrip the join-size CLI: one-row estimate table, estimate
    bounded below by the exact join size."""
    from pyspark.sql import functions as F

    from process_alphafold3_outputs_spark import corpus_cli

    sf = "/root/testdata/sf0.001"
    out = str(tmp_path / "jsz")
    args = corpus_cli.build_parser().parse_args(
        ["join-size", "--left", f"{sf}/orders.parquet",
         "--left-key", "o_orderkey",
         "--right", f"{sf}/lineitem.parquet", "--right-key", "l_orderkey",
         "--width", "8192", "--out", out]
    )
    res = corpus_cli.run(args, spark)
    got = spark.read.parquet(out).collect()
    assert res["rows"] == len(got) == 1
    exact = (
        spark.read.parquet(f"{sf}/orders.parquet")
        .join(
            spark.read.parquet(f"{sf}/lineitem.parquet"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .count()
    )
    assert got[0].est_join_size >= exact


def test_corpus_cli_vocab_overlap_roundtrip(spark, tmp_path):
    """Roundtrip the vocab-overlap CLI: comparing a corpus with itself
    estimates full overlap (est_union == est_a == est_b, overlap ==
    either side up to the 3-dp round)."""
    from process_alphafold3_outputs_spark import corpus_cli

    docs = "/root/testdata/sf0.001/documents.parquet"
    out = str(tmp_path / "vov")
    args = corpus_cli.build_parser().parse_args(
        ["vocab-overlap", "--left", docs, "--right", docs, "--out", out]
    )
    res = corpus_cli.run(args, spark)
    got = spark.read.parquet(out).collect()
    assert res["rows"] == len(got) == 1
    r = got[0]
    assert r.est_a == r.est_b == r.est_union
    assert abs(r.est_overlap - r.est_a) < 0.01


def test_corpus_cli_maintenance_roundtrip(spark, tmp_path):
    """Roundtrip the five table-maintenance commands: merge upsert,
    CDC apply, SCD2, snapshot diff, and the compaction plan."""
    from process_alphafold3_outputs_spark import corpus_cli

    def run(argv):
        args = corpus_cli.build_parser().parse_args(argv)
        res = corpus_cli.run(args, spark)
        return res, spark.read.parquet(res["out"])

    tgt = str(tmp_path / "tgt")
    spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "k long, name string, v long"
    ).write.parquet(tgt)
    upd = str(tmp_path / "upd")
    spark.createDataFrame(
        [(2, "B", 99, False), (3, "c", 30, False), (1, None, None, True)],
        "k long, name string, v long, del boolean",
    ).write.parquet(upd)
    res, got = run(
        ["merge", "--target", tgt, "--updates", upd, "--key", "k",
         "--delete-col", "del", "--out", str(tmp_path / "merged")]
    )
    assert sorted((r.k, r.name) for r in got.collect()) == [
        (2, "B"), (3, "c")
    ]

    ch = str(tmp_path / "ch")
    spark.createDataFrame(
        [(1, "a2", 12, 1, "U"), (1, None, None, 2, "D"), (4, "d", 40, 1, "I")],
        "k long, name string, v long, seq long, op string",
    ).write.parquet(ch)
    res2, got2 = run(
        ["cdc-apply", "--snapshot", tgt, "--changes", ch, "--key", "k",
         "--out", str(tmp_path / "applied")]
    )
    assert sorted(r.k for r in got2.collect()) == [2, 4]

    dim = str(tmp_path / "dim")
    spark.createDataFrame(
        [(1, "X", 0, None, True)],
        "k long, seg string, valid_from long, valid_to long, "
        "is_current boolean",
    ).write.parquet(dim)
    sup = str(tmp_path / "sup")
    spark.createDataFrame(
        [(1, "Y", 5)], "k long, seg string, effective long"
    ).write.parquet(sup)
    res3, got3 = run(
        ["scd2-apply", "--dim", dim, "--updates", sup, "--key", "k",
         "--attr", "seg", "--out", str(tmp_path / "scd2")]
    )
    assert sorted(
        (r.seg, r.is_current, r.valid_to) for r in got3.collect()
    ) == [("X", False, 5), ("Y", True, None)]

    res4, got4 = run(
        ["table-diff", "--old", tgt, "--new", str(tmp_path / "merged"),
         "--key", "k", "--out", str(tmp_path / "diffd")]
    )
    assert sorted((r.k, r.change_type) for r in got4.collect()) == [
        (1, "deleted"), (2, "changed"), (3, "added")
    ]

    fstats = str(tmp_path / "fstats")
    spark.createDataFrame(
        [("p", "f1", 10), ("p", "f2", 10), ("p", "f3", 10)],
        "part string, file_name string, bytes long",
    ).write.parquet(fstats)
    res5, got5 = run(
        ["compact-plan", "--files", fstats, "--partition-col", "part",
         "--target-bytes", "100", "--out", str(tmp_path / "plan")]
    )
    assert got5.count() == 3 and got5.collect()[0].group_files == 3


def test_corpus_cli_rank_eval_roundtrip(spark, tmp_path):
    """Roundtrip rank-eval: per-query metrics and the --summary row."""
    from process_alphafold3_outputs_spark import corpus_cli

    hits = str(tmp_path / "hits")
    spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (2, 12, 1)],
        "query_id long, doc_id long, rank int",
    ).write.parquet(hits)
    qrels = str(tmp_path / "qrels")
    spark.createDataFrame(
        [(1, 10, 2), (1, 13, 1), (2, 14, 1)],
        "query_id long, doc_id long, rel int",
    ).write.parquet(qrels)

    args = corpus_cli.build_parser().parse_args(
        ["rank-eval", "--hits", hits, "--qrels", qrels, "-k", "2",
         "--out", str(tmp_path / "m")]
    )
    res = corpus_cli.run(args, spark)
    got = {r.query_id: r for r in spark.read.parquet(res["out"]).collect()}
    assert res["rows"] == 2
    assert got[1].n_rel_hit == 1 and got[1].rr == 1.0
    assert got[2].n_rel_hit == 0 and got[2].ndcg_k == 0.0

    args2 = corpus_cli.build_parser().parse_args(
        ["rank-eval", "--hits", hits, "--qrels", qrels, "-k", "2",
         "--summary", "--out", str(tmp_path / "s")]
    )
    res2 = corpus_cli.run(args2, spark)
    s = spark.read.parquet(res2["out"]).collect()[0]
    assert res2["rows"] == 1 and s.n_queries == 2
    assert s.mrr == 0.5


def test_corpus_cli_drift_roundtrip(spark, tmp_path):
    """Roundtrip drift: psi, ks, and chi2 over two written snapshots."""
    from process_alphafold3_outputs_spark import corpus_cli

    ref = str(tmp_path / "ref")
    cur = str(tmp_path / "cur")
    spark.createDataFrame(
        [(float(i), "a" if i % 2 else "b") for i in range(20)],
        "x double, g string",
    ).write.parquet(ref)
    spark.createDataFrame(
        [(float(i) + 5.0, "a") for i in range(20)],
        "x double, g string",
    ).write.parquet(cur)

    def run(extra, name):
        args = corpus_cli.build_parser().parse_args(
            ["drift", "--ref", ref, "--cur", cur,
             "--out", str(tmp_path / name)] + extra
        )
        res = corpus_cli.run(args, spark)
        return spark.read.parquet(res["out"]).collect()[0]

    p = run(["--col", "x", "--stat", "psi", "--bins", "5"], "psi")
    assert p.n_bins == 5 and p.psi > 0
    k = run(["--col", "x", "--stat", "ks"], "ks")
    assert k.ks == 0.25  # shift of 5 over 20 consecutive values
    c = run(["--col", "g", "--stat", "chi2"], "chi2")
    assert c.n_categories == 2 and c.chi2 > 0


def test_corpus_cli_drift_many_columns(spark, tmp_path):
    """Repeated --col with --stat psi runs the fused one-scan report;
    ks/chi2 reject multiple columns."""
    from process_alphafold3_outputs_spark import corpus_cli

    ref = str(tmp_path / "r2")
    cur = str(tmp_path / "c2")
    spark.createDataFrame(
        [(float(i), float(i % 3)) for i in range(20)], "x double, y double"
    ).write.parquet(ref)
    spark.createDataFrame(
        [(float(i) + 8.0, float(i % 3)) for i in range(20)],
        "x double, y double",
    ).write.parquet(cur)
    args = corpus_cli.build_parser().parse_args(
        ["drift", "--ref", ref, "--cur", cur, "--col", "x", "--col", "y",
         "--stat", "psi", "--out", str(tmp_path / "m2")]
    )
    res = corpus_cli.run(args, spark)
    got = {r.col_name: r.psi for r in spark.read.parquet(res["out"]).collect()}
    assert set(got) == {"x", "y"} and got["x"] > got["y"]
    bad = corpus_cli.build_parser().parse_args(
        ["drift", "--ref", ref, "--cur", cur, "--col", "x", "--col", "y",
         "--stat", "ks", "--out", str(tmp_path / "nope2")]
    )
    import pytest as _pytest
    with _pytest.raises(SystemExit):
        corpus_cli.run(bad, spark)


def test_cli_r13_commands(spark, tmp_path):
    """The five r13 CLI commands round-trip: trend (keyed + whole-table),
    kappa, sample-pps, top-paths, cluster-split."""
    from process_alphafold3_outputs_spark import corpus_cli

    def run_cmd(argv, out):
        args = corpus_cli.build_parser().parse_args(
            argv + ["--out", str(tmp_path / out)]
        )
        corpus_cli.run(args, spark)
        return spark.read.parquet(str(tmp_path / out)).collect()

    ev = str(tmp_path / "ev")
    spark.createDataFrame(
        [(i, i % 3, 100 + i * 50, "t" + str(i % 2)) for i in range(60)],
        "event_id long, user_id long, ts long, event_type string",
    ).write.parquet(ev)
    trend = run_cmd(
        ["trend", "--input", ev, "--ts-col", "ts", "--width", "1000",
         "--key", "event_type"], "trend")
    assert {r.event_type for r in trend} == {"t0", "t1"}
    assert all(r.slope is not None for r in trend)
    whole = run_cmd(
        ["trend", "--input", ev, "--ts-col", "ts", "--width", "1000"],
        "trend_all")
    assert len(whole) == 1 and whole[0].n == 4
    # the r13 trend family rides the same command via --stat
    robust = run_cmd(
        ["trend", "--input", ev, "--ts-col", "ts", "--width", "1000",
         "--stat", "theil-sen"], "trend_ts")
    assert len(robust) == 1 and robust[0].slope is not None
    mk = run_cmd(
        ["trend", "--input", ev, "--ts-col", "ts", "--width", "1000",
         "--stat", "mann-kendall"], "trend_mk")
    assert mk[0].trend in ("increasing", "decreasing", "no_trend", None)
    cp = run_cmd(
        ["trend", "--input", ev, "--ts-col", "ts", "--width", "1000",
         "--stat", "changepoint"], "trend_cp")
    assert cp[0].cp_x is not None
    # r14 advice pin: bucketing is FLOOR division (DuckDB `//`), not
    # Spark `div` truncation — negative epochs (pre-1970 via the
    # generic --ts-col path) must land in floor buckets, so ts in
    # [-1500, 2500) at width 1000 spans buckets {-2,-1,0,1,2} = n 5
    # (truncation would collapse -1500..-1 into buckets {-1, 0} -> 4)
    evneg = str(tmp_path / "evneg")
    spark.createDataFrame(
        [(i, -1500 + i * 100) for i in range(40)],
        "event_id long, ts long",
    ).write.parquet(evneg)
    neg = run_cmd(
        ["trend", "--input", evneg, "--ts-col", "ts", "--width", "1000"],
        "trend_neg")
    assert len(neg) == 1 and neg[0].n == 5

    lab = str(tmp_path / "lab")
    spark.createDataFrame(
        [("y", "y")] * 20 + [("y", "n")] * 5
        + [("n", "y")] * 10 + [("n", "n")] * 15,
        "a string, b string",
    ).write.parquet(lab)
    kap = run_cmd(
        ["kappa", "--input", lab, "--col-a", "a", "--col-b", "b"], "kap")
    assert (kap[0].n, kap[0].kappa) == (50, 0.4)

    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, "s" + str(i % 2), "w " * (i + 1), (i + 1)) for i in range(30)],
        "doc_id long, source string, text string, n_chars long",
    ).write.parquet(docs)
    pps = run_cmd(
        ["sample-pps", "--documents", docs, "--k", "3"], "pps")
    got = {}
    for r in pps:
        got[r.domain] = got.get(r.domain, 0) + r.n_picks
    assert got == {"s0": 3, "s1": 3}

    paths = run_cmd(
        ["top-paths", "--input", ev, "--n-steps", "2", "-k", "3"], "paths")
    assert all("&gt;" not in r.path for r in paths) and len(paths) >= 1

    split = run_cmd(
        ["cluster-split", "--documents", docs, "--val-pct", "20"], "spl")
    assert len(split) == 30
    assert {r.split for r in split} <= {"train", "val"}


def test_cli_r14_commands(spark, tmp_path):
    """The six r14 CLI commands round-trip: fleiss, cramers-v,
    calibration (summary + --bins), cluster-eval, conversion-lag,
    freshness."""
    from process_alphafold3_outputs_spark import corpus_cli

    def run_cmd(argv, out):
        args = corpus_cli.build_parser().parse_args(
            argv + ["--out", str(tmp_path / out)]
        )
        corpus_cli.run(args, spark)
        return spark.read.parquet(str(tmp_path / out)).collect()

    ratings = str(tmp_path / "ratings")
    spark.createDataFrame(
        [(1, "a")] * 3 + [(2, "a")] + [(2, "b")] * 2,
        "item long, j string",
    ).write.parquet(ratings)
    fl = run_cmd(
        ["fleiss", "--input", ratings, "--item-col", "item",
         "--label-col", "j"], "fl")
    assert (fl[0].n_items, fl[0].n_raters, fl[0].kappa) == (2, 3, 0.25)

    lab = str(tmp_path / "lab")
    spark.createDataFrame(
        [("a", "x")] * 3 + [("b", "y")] * 2, "a string, b string"
    ).write.parquet(lab)
    cv = run_cmd(
        ["cramers-v", "--input", lab, "--col-a", "a", "--col-b", "b"],
        "cv")
    assert (cv[0].v, cv[0].chi2) == (1.0, 5.0)

    scored = str(tmp_path / "scored")
    spark.createDataFrame(
        [(0.95, 1)] * 3 + [(0.95, 0), (0.05, 0), (0.05, 0),
                           (0.5, 1), (0.5, 0)],
        "score double, y long",
    ).write.parquet(scored)
    cal = run_cmd(
        ["calibration", "--input", scored, "--score-col", "score",
         "--label-col", "y"], "cal")
    assert (cal[0].n, cal[0].ece) == (8, 0.1125)
    bins = run_cmd(
        ["calibration", "--input", scored, "--score-col", "score",
         "--label-col", "y", "--bins"], "calb")
    assert {r.bin for r in bins} == {0, 5, 9}

    clus = str(tmp_path / "clus")
    spark.createDataFrame(
        [(1, "a", "x"), (2, "a", "x"), (3, "b", "x"),
         (4, "b", "y"), (5, "b", "y"), (6, "c", "z")],
        "id long, p string, t string",
    ).write.parquet(clus)
    ce = run_cmd(
        ["cluster-eval", "--input", clus, "--pred-col", "p",
         "--truth-col", "t"], "ce")
    assert (ce[0].tp, ce[0].precision, ce[0].recall) == (2, 0.5, 0.5)

    ev = str(tmp_path / "evl")
    spark.createDataFrame(
        [(1, 100, "click"), (1, 150, "view"), (1, 200, "purchase"),
         (2, 90, "click"), (2, 100, "purchase")],
        "user_id long, ts long, event_type string",
    ).write.parquet(ev)
    cl = {
        r.touch_type: r
        for r in run_cmd(
            ["conversion-lag", "--input", ev, "--touch", "click",
             "--touch", "view", "--conversion", "purchase"], "cl")
    }
    assert cl["view"].p50_lag_s == 50 and cl["click"].p50_lag_s == 10

    fr = {
        r.event_type: r
        for r in run_cmd(
            ["freshness", "--input", ev, "--key", "event_type"], "fr")
    }
    assert fr["purchase"].staleness_s == 0
    assert fr["view"].staleness_s == 50


def test_cli_sample_stratified(spark, tmp_path):
    from process_alphafold3_outputs_spark import corpus_cli

    docs = str(tmp_path / "sdocs")
    spark.createDataFrame(
        [(i, "s" + str(i % 2), "t", 1) for i in range(20)],
        "doc_id long, source string, text string, w long",
    ).write.parquet(docs)
    args = corpus_cli.build_parser().parse_args(
        ["sample-stratified", "--documents", docs, "--k", "10",
         "--weight-col", "w", "--out", str(tmp_path / "strat")]
    )
    corpus_cli.run(args, spark)
    got = spark.read.parquet(str(tmp_path / "strat")).collect()
    assert len(got) == 10
    assert {r.source for r in got} == {"s0", "s1"}


def test_cli_survival(spark, tmp_path):
    from process_alphafold3_outputs_spark import corpus_cli

    ev = str(tmp_path / "sev")
    spark.createDataFrame(
        [(1, 0), (1, 5), (2, 0), (2, 15), (3, 0), (3, 35)],
        "user_id long, ts long",
    ).write.parquet(ev)
    args = corpus_cli.build_parser().parse_args(
        ["survival", "--input", ev, "--bucket-s", "10",
         "--out", str(tmp_path / "km")]
    )
    corpus_cli.run(args, spark)
    got = {r.bucket: r for r in
           spark.read.parquet(str(tmp_path / "km")).collect()}
    assert got[0].n_risk == 3 and got[0].n_deaths == 1
    assert got[3].n_censored == 1


def test_cli_theils_u_and_benford(spark, tmp_path):
    from process_alphafold3_outputs_spark import corpus_cli

    def run_cmd(argv, out):
        args = corpus_cli.build_parser().parse_args(
            argv + ["--out", str(tmp_path / out)]
        )
        corpus_cli.run(args, spark)
        return spark.read.parquet(str(tmp_path / out)).collect()

    lab = str(tmp_path / "tu")
    spark.createDataFrame(
        [(str(i % 4), str(i % 2)) for i in range(16)],
        "a string, b string",
    ).write.parquet(lab)
    tu = run_cmd(
        ["theils-u", "--input", lab, "--col-a", "a", "--col-b", "b"],
        "tuo")
    assert (tu[0].u_b_given_a, tu[0].u_a_given_b) == (1.0, 0.5)

    nums = str(tmp_path / "bf")
    spark.createDataFrame(
        [(v,) for v in (1, 12, 19, 25, 900, 0)], "x long"
    ).write.parquet(nums)
    bf = {r.digit: r.n for r in run_cmd(
        ["benford", "--input", nums, "--col", "x"], "bfo")}
    assert bf[1] == 3 and bf[2] == 1 and bf[9] == 1 and bf[3] == 0
