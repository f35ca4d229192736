"""Differential test: full Spark interaction pipeline vs the pure-Python
model of the reference semantics, on the deterministic synthetic corpus."""

from __future__ import annotations

from process_alphafold3_outputs_spark.operators.intervals import (
    chain_intervals,
    identify_interacting_residues,
)
from process_alphafold3_outputs_spark.operators.screen import screen_binders
from process_alphafold3_outputs_spark.operators.spatial import (
    contact_pairs_grid,
    contact_pairs_numpy,
)
from process_alphafold3_outputs_spark.params import ScreenParams
from process_alphafold3_outputs_spark.plans.pipeline import interaction_report

from . import reference_model as model

PARAMS = ScreenParams()


def test_screen_matches_model(af3, corpus):
    got = {r.job for r in screen_binders(af3["predictions"], PARAMS).collect()}
    want = {p["job"] for p in corpus["predictions"].to_dict("records") if model.screen_job(p)}
    assert got == want
    assert len(want) > 0


def test_chain_intervals_prefix_sum(af3, corpus):
    iv = {
        (r.job, r.chain_id): (r.start, r.end)
        for r in chain_intervals(af3["chains"]).collect()
    }
    ch = corpus["chains"]
    for job, grp in ch.groupby("job"):
        grp = grp.sort_values("chain_index")
        off = 0
        for _, row in grp.iterrows():
            assert iv[(job, row.chain_id)] == (off, off + row.token_length)
            off += row.token_length


def test_interacting_residues_match_model(af3, corpus):
    binders = screen_binders(af3["predictions"], PARAMS)
    got = {
        (r.job, r.partner_res)
        for r in identify_interacting_residues(
            af3["pae_long"], af3["chains"], PARAMS, jobs=binders
        ).collect()
    }
    want = set()
    ch, pae_df = corpus["chains"], corpus["pae_long"]
    for pred in corpus["predictions"].to_dict("records"):
        if not model.screen_job(pred):
            continue
        job = pred["job"]
        grp = ch[ch.job == job].sort_values("chain_index")
        jp = pae_df[pae_df.job == job]
        pae = {
            (int(r.scored_token), int(r.aligned_token)): float(r.pae)
            for r in jp.itertuples()
        }
        for res in model.interacting_residues(
            pae, int(jp.aligned_token.max()) + 1, grp.token_length.tolist()
        ):
            want.add((job, res))
    assert got == want
    assert len(want) > 0


def test_grid_join_equals_numpy_join(af3):
    binders = screen_binders(af3["predictions"], PARAMS)
    inter = identify_interacting_residues(
        af3["pae_long"], af3["chains"], PARAMS, jobs=binders
    )
    grid = {
        (r.job, r.partner_res, r.poi_res)
        for r in contact_pairs_grid(af3["atoms"], inter, PARAMS).collect()
    }
    brute = {
        (r.job, r.partner_res, r.poi_res)
        for r in contact_pairs_numpy(af3["atoms"], inter, PARAMS).collect()
    }
    assert grid == brute
    assert len(grid) > 0


def test_full_report_matches_model(af3, corpus):
    report = interaction_report(
        af3["predictions"], af3["chains"], af3["pae_long"], af3["atoms"], PARAMS
    )
    cols = PARAMS.report_columns()
    assert report.columns == cols
    got = {tuple(r[c] for c in cols) for r in report.collect()}
    want = set(model.full_pipeline(corpus))
    assert got == want
    assert len(want) > 0


def test_full_report_min_residues_zero_matches_model(af3, corpus):
    """The vacuous-truth path (every in-range partner token qualifies)
    end to end through contacts, islands and the sequence join."""
    params = ScreenParams(min_residues_cutoff=0)
    report = interaction_report(
        af3["predictions"], af3["chains"], af3["pae_long"], af3["atoms"], params
    )
    cols = params.report_columns()
    got = {tuple(r[c] for c in cols) for r in report.collect()}
    want = set(model.full_pipeline(corpus, min_residues=0))
    assert got == want
    assert len(want) > 0


def test_width_sources_agree_on_wellformed_corpus(af3):
    binders = screen_binders(af3["predictions"], PARAMS)
    from_pae = {
        (r.job, r.partner_res)
        for r in identify_interacting_residues(
            af3["pae_long"], af3["chains"], PARAMS, jobs=binders, width_source="pae"
        ).collect()
    }
    from_chains = {
        (r.job, r.partner_res)
        for r in identify_interacting_residues(
            af3["pae_long"], af3["chains"], PARAMS, jobs=binders, width_source="chains"
        ).collect()
    }
    assert from_pae == from_chains


def test_pipeline_with_skewed_job_sizes(spark, tmp_path):
    """One scale-12 job (~160k pae rows) among scale-1 jobs: the
    job-keyed partitioning must handle heavy-hitter jobs without
    failures or wrong results (AQE skew handling + per-job kernels)."""
    import pandas as pd

    from process_alphafold3_outputs_spark.fixtures import make_corpus

    small = make_corpus(n_jobs=4, seed=31, scale=1)
    big = make_corpus(n_jobs=1, seed=32, scale=12)
    # rename the big job so keys don't collide
    for name in small:
        big[name] = big[name].copy()
        big[name]["job"] = big[name]["job"].str.replace("0000", "9999")
    corpus = {
        name: pd.concat([small[name], big[name]], ignore_index=True)
        for name in small
    }
    d = str(tmp_path / "skewed")
    import os

    os.makedirs(d)
    tabs = {}
    for name, df in corpus.items():
        df.to_parquet(f"{d}/{name}.parquet", index=False)
        tabs[name] = spark.read.parquet(f"{d}/{name}.parquet")

    report = interaction_report(
        tabs["predictions"], tabs["chains"], tabs["pae_long"], tabs["atoms"], PARAMS
    )
    cols = PARAMS.report_columns()
    got = {tuple(r[c] for c in cols) for r in report.collect()}
    want = set(model.full_pipeline(corpus))
    assert got == want
    # the giant job must appear in the output (it is a binder by construction)
    assert any("9999" in r[0] for r in got)


def test_reversed_chain_direction(af3, corpus):
    """poi=B, partner=A exercises PAE asymmetry (SURVEY §2.2 #4):
    chain_pair_pae_min[1][0] and the transposed matrix slice must be
    used — a direction bug would still pass the default-direction tests.
    Checked at the default min_residues and through the partner-token
    branch (min_residues=0, which widens the partner ranges)."""
    rows = {}
    for mr in (5, 0):
        params = ScreenParams(poi_chain="B", partner_chain="A", min_residues_cutoff=mr)
        report = interaction_report(
            af3["predictions"], af3["chains"], af3["pae_long"], af3["atoms"], params
        )
        cols = params.report_columns()
        assert cols[1] == "Contact_residues_POI_chain_B"
        got = {tuple(r[c] for c in cols) for r in report.collect()}
        want = set(model.full_pipeline(corpus, poi="B", partner="A", min_residues=mr))
        assert got == want and want  # the transposed slice checked on real rows
        rows[mr] = got
    assert rows[5] != rows[0]


def test_hostile_chain_labels_bind_as_values(af3):
    """Chain labels are bound as parameter values, never spliced into the
    SQL text: a quote, a backtick or an injected predicate is just an
    unknown label — 0 rows and no SQL error."""
    from process_alphafold3_outputs_spark.plans.sweep import (
        sweep_grid,
        sweep_interacting_residues,
    )

    for poi, partner in (("A' OR '1'='1", "B"), ("A", "B` OR 1=1 --"), ("A", "B'); --")):
        params = ScreenParams(poi_chain=poi, partner_chain=partner)
        report = interaction_report(
            af3["predictions"], af3["chains"], af3["pae_long"], af3["atoms"], params
        )
        assert report.columns == params.report_columns()
        assert report.collect() == []
        sweep = sweep_interacting_residues(
            af3["pae_long"], af3["chains"], sweep_grid([15.0], [0, 5]), base=params
        )
        assert sweep.collect() == []


def test_iptm_boundary_equality_passes(af3, corpus):
    """iptm == cutoff must PASS (reference rejects only strictly-less,
    :86). Use a real job's iptm value as the cutoff."""
    import pandas as pd

    preds = corpus["predictions"]
    vals = preds[~preds.iptm.isna()].iptm
    cutoff = float(vals.iloc[0])
    boundary_jobs = set(preds[preds.iptm == cutoff].job)
    params = ScreenParams(min_iptm_cutoff=cutoff)
    passed = {r.job for r in screen_binders(af3["predictions"], params).collect()}
    # every job at exactly the cutoff that meets the other criteria passes
    for rec in preds.to_dict("records"):
        expected = model.screen_job(rec, min_iptm=cutoff)
        assert (rec["job"] in passed) == expected, rec["job"]
    assert any(j in passed for j in boundary_jobs) or not any(
        model.screen_job(r, min_iptm=cutoff)
        for r in preds[preds.iptm == cutoff].to_dict("records")
    )


def test_min_residues_zero_keeps_all_in_range_tokens(af3, corpus):
    """Reference parity for min_residues <= 0: sum(slice < cutoff) >= 0
    is vacuously true, so EVERY in-range partner token qualifies — even
    ones with zero sub-cutoff PAE entries (the hit-based groupBy alone
    would drop those)."""
    params = ScreenParams(min_residues_cutoff=0)
    got = {
        (r.job, r.partner_res)
        for r in identify_interacting_residues(
            af3["pae_long"], af3["chains"], params
        ).collect()
    }
    ch = corpus["chains"]
    want = set()
    for job, grp in ch.groupby("job"):
        grp = grp.sort_values("chain_index")
        widths = dict(zip(grp.chain_id, grp.token_length))
        offs, off = {}, 0
        for _, row in grp.iterrows():
            offs[row.chain_id] = off
            off += row.token_length
        # O17 bounds guard still applies (partner interval within width)
        if offs["B"] < off and offs["B"] + widths["B"] <= off:
            want |= {(job, r) for r in range(1, widths["B"] + 1)}
    assert got == want and len(want) > 0


def test_sweep_min_residues_zero_matches_kernel(af3):
    """A min_residues=0 sweep point must agree with the single-param
    kernel's short-circuit (every in-range token, zero-hit ones too)."""
    from process_alphafold3_outputs_spark.plans.sweep import (
        sweep_grid,
        sweep_interacting_residues,
    )

    grid = sweep_grid([15.0], [0, 5])
    sw = sweep_interacting_residues(af3["pae_long"], af3["chains"], grid)
    by_param = {}
    for r in sw.collect():
        by_param.setdefault(r.param_id, set()).add((r.job, r.partner_res))
    for pid, mr in ((0, 0), (1, 5)):
        params = ScreenParams(max_pae_cutoff=15.0, min_residues_cutoff=mr)
        want = {
            (r.job, r.partner_res)
            for r in identify_interacting_residues(
                af3["pae_long"], af3["chains"], params
            ).collect()
        }
        assert by_param.get(pid, set()) == want, pid


def test_contact_distance_is_radius_inclusive(spark):
    """Biopython NeighborSearch.search is radius-inclusive: an atom pair
    at EXACTLY max_dist is a contact. Planted 8.0 Å pair (max_dist=8)."""
    atoms = spark.createDataFrame(
        [
            # poi residue 1 at origin; partner residue 2 exactly 8.0 away
            ("j", 0, "A", 1, "GLY", True, "CA", 0.0, 0.0, 0.0),
            ("j", 0, "B", 2, "ALA", True, "CA", 8.0, 0.0, 0.0),
            # and one clearly outside
            ("j", 0, "B", 3, "ALA", True, "CA", 8.001, 0.0, 0.0),
        ],
        "job string, model_id int, chain_id string, residue_id int, "
        "residue_name string, is_aa boolean, atom_name string, "
        "x double, y double, z double",
    )
    inter = spark.createDataFrame([("j", 2), ("j", 3)], "job string, partner_res int")
    grid = {
        (r.partner_res, r.poi_res)
        for r in contact_pairs_grid(atoms, inter, PARAMS).collect()
    }
    brute = {
        (r.partner_res, r.poi_res)
        for r in contact_pairs_numpy(atoms, inter, PARAMS).collect()
    }
    assert grid == brute == {(2, 1)}


def test_full_report_matches_model_alternate_seed(spark, tmp_path):
    """Same end-to-end differential on a DIFFERENT corpus seed and size
    — guards against expectations that only hold for the module fixture
    (seed 7, 20 jobs)."""
    import os

    from process_alphafold3_outputs_spark.fixtures import write_corpus

    d = str(tmp_path / "alt")
    write_corpus(d, n_jobs=30, seed=21)
    tabs = {
        n: spark.read.parquet(os.path.join(d, f"{n}.parquet"))
        for n in ("predictions", "chains", "pae_long", "atoms")
    }
    import pandas as pd

    corpus = {
        n: pd.read_parquet(os.path.join(d, f"{n}.parquet"))
        for n in ("predictions", "chains", "pae_long", "atoms")
    }
    report = interaction_report(
        tabs["predictions"], tabs["chains"], tabs["pae_long"], tabs["atoms"], PARAMS
    )
    cols = PARAMS.report_columns()
    got = {tuple(r[c] for c in cols) for r in report.collect()}
    want = set(model.full_pipeline(corpus))
    assert got == want and len(want) > 0


def test_curate_corpus_dedups_after_boilerplate_strip(spark):
    """Two docs that differ ONLY in their shared boilerplate header must
    collide after stripping — the reason dedup runs last."""
    from process_alphafold3_outputs_spark.plans.corpus import curate_corpus

    hdr = "site navigation menu footer"
    body = "the quick brown fox jumps over the lazy dog sees more cats"
    other = "completely separate article text goes here with many new words"
    docs = spark.createDataFrame(
        [
            (1, f"{hdr} {body}"),
            (2, f"{hdr} {body}"),
            (3, f"{hdr} {other}"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.asDict() for r in
           curate_corpus(docs, seg_words=4, min_df=2, max_avg_nll=99.0).collect()}
    # docs 1/2 are exact dups: EVERY segment of theirs reaches df=2 and
    # strips, so both drop at the n_bigrams gate — full-duplicate text
    # is boilerplate by definition under the frequency rule
    assert 1 not in out and 2 not in out
    # doc 3 keeps its unique article, loses only the shared header
    assert 3 in out and hdr not in out[3]["clean_text"]
    assert out[3]["clean_text"] == other

    # header-only sharing: distinct bodies survive with the header gone
    docs2 = spark.createDataFrame(
        [(1, f"{hdr} {body}"), (2, f"{hdr} {other}")],
        "doc_id long, text string",
    )
    out2 = {r.doc_id: r.asDict() for r in
            curate_corpus(docs2, seg_words=4, min_df=2,
                          max_avg_nll=99.0).collect()}
    assert set(out2) == {1, 2}
    assert out2[1]["clean_text"] == body
    assert out2[2]["clean_text"] == other
