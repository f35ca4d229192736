"""Seeded, disk-cached benchmark inputs and their expected outputs.

Everything here is a pure function of (seed, size): the same seed gives
byte-identical inputs. Expected outputs come from independent oracles,
never from the engine under test:

- AF3 report rows from the pure-Python reference model
  (``tests/reference_model.py``) at each parameter point;
- corpus rows from the DuckDB oracle SQL registered for
  ``pipeline_corpus_to_training``, run on the same document variant.

Inputs are cached under the work directory keyed by their parameters,
so a rerun with the same seed skips generation.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pandas as pd

from process_alphafold3_outputs_spark.fixtures import make_corpus
from process_alphafold3_outputs_spark.operators.structures import atoms_to_cif
from process_alphafold3_outputs_spark.params import ScreenParams

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_REPO, "tests"))
import reference_model as model  # noqa: E402


# --------------------------------------------------------------------------
# AF3 directory trees
# --------------------------------------------------------------------------
def write_af3_tree(root: str, n_jobs: int, seed: int, scale: int) -> dict:
    """An AF3 output tree (one folder per job: summary JSON, full-data
    JSON with the PAE matrix, one CIF per model) built from
    ``fixtures.make_corpus(n_jobs, seed, scale)``. Returns the corpus
    dict the tree was written from. Cached: a finished tree carries a
    ``.done`` marker and the corpus pickle beside it."""
    marker = os.path.join(root, ".done")
    pkl = root.rstrip("/") + ".corpus.pkl"
    if os.path.exists(marker) and os.path.exists(pkl):
        return pd.read_pickle(pkl)
    shutil.rmtree(root, ignore_errors=True)
    corpus = make_corpus(n_jobs=n_jobs, seed=seed, scale=scale)
    pae_by_job = dict(tuple(corpus["pae_long"].groupby("job", sort=False)))
    atoms_by_job = dict(tuple(corpus["atoms"].groupby("job", sort=False)))
    for rec in corpus["predictions"].to_dict("records"):
        job = rec["job"]
        jdir = os.path.join(root, job)
        os.makedirs(jdir)
        doc = {k: rec[k] for k in ("iptm", "ptm") if not pd.isna(rec[k])}
        doc["chain_pair_pae_min"] = [list(r) for r in rec["chain_pair_pae_min"]]
        with open(os.path.join(jdir, f"{job}_summary_confidences_0.json"), "w") as fh:
            json.dump(doc, fh)
        jp = pae_by_job[job]
        n = int(jp.aligned_token.max()) + 1
        mat = np.zeros((n, n))
        mat[jp.scored_token.to_numpy(), jp.aligned_token.to_numpy()] = jp.pae.to_numpy()
        with open(os.path.join(jdir, f"{job}_full_data_0.json"), "w") as fh:
            json.dump({"pae": np.round(mat, 2).tolist(),
                       "token_res_ids": list(range(1, n + 1))}, fh)
        for k, rows in atoms_by_job[job].groupby("model_id"):
            rows = rows.sort_values(["chain_id", "residue_id", "atom_name"])
            with open(os.path.join(jdir, f"{job}_model_{k}.cif"), "w") as fh:
                fh.write(atoms_to_cif(f"{job}_model_{k}", rows.to_dict("records")))
    pd.to_pickle(corpus, pkl)
    open(marker, "w").close()
    return corpus


class _PaeMatrix:
    """``pae[(row, col)]`` view of a dense matrix — the mapping shape
    ``reference_model.interacting_residues`` indexes."""

    def __init__(self, mat: np.ndarray):
        self.rows = mat.tolist()

    def __getitem__(self, rc):
        return self.rows[rc[0]][rc[1]]


def job_inputs(corpus: dict) -> list[dict]:
    """Per-job model inputs, prepared once per corpus and reused at
    every parameter point."""
    chains = corpus["chains"]
    pae_by_job = dict(tuple(corpus["pae_long"].groupby("job", sort=False)))
    atoms_by_job = dict(tuple(corpus["atoms"].groupby("job", sort=False)))
    out = []
    for pred in corpus["predictions"].to_dict("records"):
        job = pred["job"]
        ch = chains[chains.job == job].sort_values("chain_index")
        jp = pae_by_job[job]
        n = int(jp.aligned_token.max()) + 1
        mat = np.zeros((n, n), dtype=np.float32)
        mat[jp.scored_token.to_numpy(), jp.aligned_token.to_numpy()] = jp.pae.to_numpy()
        out.append({
            "job": job,
            "pred": pred,
            "chain_lengths": ch.token_length.tolist(),
            "seqs": dict(zip(ch.chain_id, ch.sequence)),
            "n_tokens": n,
            "pae": _PaeMatrix(mat),
            "atoms": atoms_by_job[job].to_dict("records"),
        })
    return out


def expected_report(jobs: list[dict], p: ScreenParams) -> tuple[list[tuple], list[str]]:
    """(report rows, binder jobs) the reference model gives at ``p``."""
    rows: list[tuple] = []
    binders: list[str] = []
    for j in jobs:
        if not model.screen_job(j["pred"], p.min_iptm_cutoff, p.min_ptm_cutoff,
                                p.max_pae_cutoff, p.poi_chain, p.partner_chain):
            continue
        binders.append(j["job"])
        inter = model.interacting_residues(
            j["pae"], j["n_tokens"], j["chain_lengths"], p.max_pae_cutoff,
            p.min_residues_cutoff, p.poi_chain, p.partner_chain)
        cmap = model.contact_map(j["atoms"], inter, p.max_dist,
                                 p.poi_chain, p.partner_chain)
        rows.extend(model.report_rows(j["job"], cmap, j["seqs"][p.poi_chain],
                                      j["seqs"][p.partner_chain]))
    return sorted(rows), sorted(binders)


def expected_sweep(jobs: list[dict], grid, base: ScreenParams) -> list[tuple]:
    """(param_id, job, partner_res) rows of a sweep grid. The sweep has
    no binder screen: every job with in-range chains is evaluated."""
    rows = []
    for pt in grid:
        for j in jobs:
            for r in model.interacting_residues(
                    j["pae"], j["n_tokens"], j["chain_lengths"],
                    pt.max_pae_cutoff, pt.min_residues_cutoff,
                    base.poi_chain, base.partner_chain):
                rows.append((pt.param_id, j["job"], r))
    return sorted(rows)


def param_points(seed: int, n: int) -> list[list[ScreenParams]]:
    """Screen points of ``n`` iterations, two each: the forward chain
    pair at a tighter PAE cutoff and a shorter contact distance, and the
    reversed pair (poi=B, partner=A) at fresh cutoffs. Seeded; no point
    repeats and none is the defaults."""
    rng = np.random.RandomState(seed)
    u = lambda lo, hi: round(float(rng.uniform(lo, hi)), 3)  # noqa: E731
    seen = {ScreenParams()}
    out: list[list[ScreenParams]] = []
    while len(out) < n:
        pts = [ScreenParams(max_pae_cutoff=u(5.5, 14.5), max_dist=u(4.5, 7.9)),
               ScreenParams(poi_chain="B", partner_chain="A",
                            max_pae_cutoff=u(9.0, 15.0), max_dist=u(5.0, 9.0))]
        if not seen & set(pts):
            seen.update(pts)
            out.append(pts)
    return out


# --------------------------------------------------------------------------
# document variants
# --------------------------------------------------------------------------
_VOCAB = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge "
    "data join vector customer a the"
).split()
# Measured on the repo's sf0.1 test-data ``documents`` table (5,000
# docs; README.md has the figures): words per document uniform in
# 10-100 from the 30-word vocabulary above; 5% of documents are another
# document's text plus " dup"; ``lang`` metadata 41% en, the rest
# evenly de/es/fr/zh; ``source`` is src<doc_id mod 20>.
_WORDS = (10, 100)
_NEAR_DUP_FRAC = 0.05
_LANGS = np.array(["en", "de", "es", "fr", "zh"])
_LANG_P = np.array([0.41] + [0.59 / 4] * 4)
_SOURCES = 20


def write_documents(path: str, n_docs: int, seed: int) -> None:
    """A seeded ``documents.parquet`` variant with the schema and the
    measured mix of the repo's sf0.1 test-data documents table (doc_id,
    text, lang, source, n_chars). The language gate drops the documents
    with too few English markers and exact dedup the copies that share a
    source, as on that table; near dedup drops the " dup" copies."""
    if os.path.exists(path):
        return
    rng = np.random.RandomState(seed)
    lo, hi = _WORDS
    texts = [" ".join(_VOCAB[k] for k in rng.randint(len(_VOCAB), size=n))
             for n in rng.randint(lo, hi + 1, size=n_docs)]
    for i in np.flatnonzero(rng.rand(n_docs) < _NEAR_DUP_FRAC):
        src = rng.randint(n_docs - 1)
        texts[i] = texts[src + (src >= i)] + " dup"
    ids = np.arange(n_docs, dtype=np.int64)
    df = pd.DataFrame({
        "doc_id": ids,
        "text": texts,
        "lang": _LANGS[rng.choice(len(_LANGS), size=n_docs, p=_LANG_P)],
        "source": [f"src{k}" for k in ids % _SOURCES],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    df.to_parquet(tmp, index=False)
    os.replace(tmp, path)


def rows_digest(rows) -> str:
    """Order-independent digest of a row multiset."""
    h = [hashlib.sha1(repr(tuple(r)).encode()).hexdigest() for r in rows]
    return hashlib.sha1("".join(sorted(h)).encode()).hexdigest()


def expected_training(path: str) -> tuple[int, str]:
    """(row count, row digest) of ``pipeline_corpus_to_training``'s
    DuckDB oracle SQL over the document variant at ``path``. Cached
    beside the variant."""
    cache = path + ".expected.json"
    if os.path.exists(cache):
        with open(cache) as fh:
            d = json.load(fh)
        return d["rows"], d["digest"]
    import duckdb

    from process_alphafold3_outputs_spark.plans import driver_queries_ext  # noqa: F401  (registers the SQL)
    from process_alphafold3_outputs_spark.plans.driver_queries import _ORACLE

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    rows = con.execute(_ORACLE["pipeline_corpus_to_training"]).fetchall()
    con.close()
    out = (len(rows), rows_digest(training_key(r) for r in rows))
    with open(cache, "w") as fh:
        json.dump({"rows": out[0], "digest": out[1]}, fh)
    return out


def training_key(r) -> tuple:
    """(doc_id, chunk_id, chunk_text, n_tokens, split) normalised so
    Spark and DuckDB rows digest alike."""
    return (int(r[0]), int(r[1]), str(r[2]), int(r[3]), str(r[4]))
