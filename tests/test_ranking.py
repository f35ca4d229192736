"""IR metric pins for operators/ranking.py — hand-built run + judgments
with the formulas restated independently in plain Python."""

from __future__ import annotations

import math

from process_alphafold3_outputs_spark.operators.ranking import (
    ranking_metrics,
    ranking_summary,
)

HITS = "query_id long, doc_id long, rank int"
QRELS = "query_id long, doc_id long, rel int"


def test_ranking_metrics_hand_computed(spark):
    hits = spark.createDataFrame(
        [
            # q1: rel at ranks 1 and 3, miss at 2
            (1, 102, 1), (1, 999, 2), (1, 101, 3),
            # q3 has hits but NO qrels -> dropped from the report
            (3, 101, 1),
        ],
        HITS,
    )
    qrels = spark.createDataFrame(
        [(1, 101, 2), (1, 102, 1), (1, 103, 1), (2, 104, 1)],
        QRELS,
    )
    out = {
        r.query_id: r
        for r in ranking_metrics(hits, qrels, k=3).collect()
    }
    assert set(out) == {1, 2}  # q3 unjudged -> dropped

    r1 = out[1]
    assert (r1.n_rel, r1.n_hits, r1.n_rel_hit) == (3, 3, 2)
    assert r1.precision_k == round(2 / 3, 6)
    assert r1.recall_k == round(2 / 3, 6)
    assert r1.rr == 1.0
    # AP@3: precision at relevant ranks (1/1 at rank 1, 2/3 at rank 3)
    # over min(n_rel, k) = 3
    assert r1.ap_k == round((1 / 1 + 2 / 3) / 3, 6)
    dcg = (2**1 - 1) / math.log2(2) + (2**2 - 1) / math.log2(4)
    idcg = (
        (2**2 - 1) / math.log2(2)
        + (2**1 - 1) / math.log2(3)
        + (2**1 - 1) / math.log2(4)
    )
    assert r1.ndcg_k == round(dcg / idcg, 6)

    # judged query with NO hits: defined zeros, not NULLs
    r2 = out[2]
    assert (r2.n_rel, r2.n_hits, r2.n_rel_hit) == (1, 0, 0)
    assert (r2.precision_k, r2.recall_k, r2.rr, r2.ap_k, r2.ndcg_k) == (
        0.0, 0.0, 0.0, 0.0, 0.0,
    )


def test_ranking_metrics_k_truncates_run_and_ideal(spark):
    """Rank-(k+1) hits are invisible, and IDCG is the ideal of the TOP
    k judgments, so a perfect-but-deep run cannot score ndcg 1."""
    hits = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)], HITS
    )
    qrels = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 1), (1, 12, 1)], QRELS
    )
    out = ranking_metrics(hits, qrels, k=2).collect()[0]
    assert out.n_hits == 2 and out.n_rel_hit == 2
    assert out.precision_k == 1.0
    assert out.recall_k == round(2 / 3, 6)
    assert out.ndcg_k == 1.0  # top-2 of the run == top-2 ideal


def test_ranking_perfect_run_is_all_ones(spark):
    """A run that returns the judged docs in ideal gain order scores 1
    on precision (k = n_rel), rr, ap and ndcg."""
    qrels = spark.createDataFrame(
        [(1, 1, 3), (1, 2, 2), (1, 3, 1)], QRELS
    )
    hits = spark.createDataFrame(
        [(1, 1, 1), (1, 2, 2), (1, 3, 3)], HITS
    )
    r = ranking_metrics(hits, qrels, k=3).collect()[0]
    assert (r.precision_k, r.recall_k, r.rr, r.ap_k, r.ndcg_k) == (
        1.0, 1.0, 1.0, 1.0, 1.0,
    )
    s = ranking_summary(ranking_metrics(hits, qrels, k=3)).collect()[0]
    assert s.n_queries == 1 and s.map_k == 1.0 and s.mean_ndcg_k == 1.0


def test_ranking_summary_macro_average(spark):
    """Macro: the 1-judgment query and the 3-judgment query weigh the
    same in every mean."""
    qrels = spark.createDataFrame(
        [(1, 1, 1), (2, 2, 1), (2, 3, 1), (2, 4, 1)], QRELS
    )
    hits = spark.createDataFrame(
        [(1, 1, 1), (2, 9, 1), (2, 2, 2)], HITS
    )
    m = ranking_metrics(hits, qrels, k=2)
    s = ranking_summary(m).collect()[0]
    assert s.n_queries == 2
    # q1 recall 1.0; q2 recall 1/3 -> macro mean
    assert s.mean_recall_k == round((1.0 + round(1 / 3, 6)) / 2, 6)
    assert s.mrr == round((1.0 + 0.5) / 2, 6)


def test_agreement_kappa_hand_computed_and_edges(spark):
    """Cohen's kappa (r13): hand-computed 2x2 and 3-category tables;
    perfect agreement = 1; independence-shaped table ~ 0; constant
    raters (pe == 1) -> NULL kappa; zero diagonal -> po = 0.0, kappa
    < 0; NULL labels excluded; empty input -> n=0 all-NULL row."""
    import pytest as _pt

    from process_alphafold3_outputs_spark.operators.ranking import (
        agreement_kappa,
    )

    def run(rows):
        df = spark.createDataFrame(rows, "a string, b string")
        out = agreement_kappa(df, "a", "b").collect()
        assert len(out) == 1
        return out[0]

    # classic textbook 2x2: 20 yes/yes, 5 yes/no, 10 no/yes, 15 no/no
    rows = ([("y", "y")] * 20 + [("y", "n")] * 5
            + [("n", "y")] * 10 + [("n", "n")] * 15)
    r = run(rows)
    # po = 35/50 = .7; pe = (25*30 + 25*20)/2500 = .5; kappa = .4
    assert (r.n, r.po, r.pe, r.kappa) == (50, 0.7, 0.5, 0.4)
    # perfect agreement, 3 categories
    r = run([("a", "a")] * 3 + [("b", "b")] * 4 + [("c", "c")] * 5)
    assert r.kappa == 1.0 and r.po == 1.0
    # both raters constant and equal: pe == 1 -> kappa NULL (0/0)
    r = run([("x", "x")] * 7)
    assert (r.po, r.pe, r.kappa) == (1.0, 1.0, None)
    # zero diagonal: po exactly 0.0 (not NULL), kappa negative
    r = run([("y", "n")] * 5 + [("n", "y")] * 5)
    assert r.po == 0.0 and r.kappa < 0
    # NULL labels excluded from n
    df = spark.createDataFrame(
        [("y", "y"), ("y", None), (None, "n")], "a string, b string"
    )
    assert agreement_kappa(df, "a", "b").collect()[0].n == 1
    # empty input: one row, n = 0, stats NULL
    empty = spark.createDataFrame([], "a string, b string")
    r = agreement_kappa(empty, "a", "b").collect()[0]
    assert (r.n, r.po, r.pe, r.kappa) == (0, None, None, None)


def test_fleiss_kappa_hand_computed_and_edges(spark):
    """Fleiss' kappa (r14): hand-computed 2-item r=3 panel (exact
    rationals pbar=2/3, pe=5/9, kappa=1/4); perfect panel agreement =
    1.0; all-one-category panel (pe == 1) -> NULL kappa; ragged panel
    and single-rater panel refused loudly; NULL labels excluded BEFORE
    the panel check; empty input -> n_items=0 all-NULL row."""
    import pytest as _pt

    from process_alphafold3_outputs_spark.operators.ranking import (
        fleiss_kappa,
    )

    def run(rows):
        df = spark.createDataFrame(rows, "i long, j string")
        out = fleiss_kappa(df, "i", "j").collect()
        assert len(out) == 1
        return out[0]

    # items: 1 -> a,a,a ; 2 -> a,b,b
    # S = 9 + 5 = 14; pbar = (14-6)/(6*2) = 2/3; c_a=4, c_b=2;
    # pe = 20/36 = 5/9; kappa = (2/3-5/9)/(4/9) = 1/4
    r = run([(1, "a")] * 3 + [(2, "a")] + [(2, "b")] * 2)
    assert (r.n_items, r.n_raters, r.n_categories) == (2, 3, 2)
    assert (r.pbar, r.pe, r.kappa) == (0.666667, 0.555556, 0.25)
    # perfect agreement across a 2-category panel
    r = run([(1, "a")] * 3 + [(2, "b")] * 3 + [(3, "a")] * 3)
    assert r.kappa == 1.0 and r.pbar == 1.0
    # every rating one category: pe == 1 -> kappa NULL
    r = run([(i, "x") for i in (1, 2)] * 2)
    assert (r.pbar, r.pe, r.kappa) == (1.0, 1.0, None)
    # ragged panel refused loudly with the observed range
    with _pt.raises(Exception, match="range \\[2, 3\\]"):
        run([(1, "a")] * 3 + [(2, "a")] * 2)
    # single-rater panel refused (no agreement to measure)
    with _pt.raises(Exception, match="CONSTANT panel"):
        run([(1, "a"), (2, "b")])
    # NULL labels excluded BEFORE the panel check: item 2 keeps r=3
    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (1, "b"),
         (2, "a"), (2, "b"), (2, "b"), (2, None)],
        "i long, j string",
    )
    r = fleiss_kappa(df, "i", "j").collect()[0]
    assert (r.n_items, r.n_raters) == (2, 3)
    # empty input: one row, all-NULL stats (not a refusal)
    empty = spark.createDataFrame([], "i long, j string")
    r = fleiss_kappa(empty, "i", "j").collect()[0]
    assert (r.n_items, r.n_raters, r.kappa) == (0, None, None)


def test_calibration_hand_computed_and_edges(spark):
    """Calibration (r14): hand-computed 3-bin reliability table and
    exact-integer ECE/MCE/Brier; score 1.0 lands in the last bin
    (right-closed); out-of-range score and non-binary label refused
    loudly in-path; NULL rows excluded; empty input -> n=0 NULLs."""
    import pytest as _pt

    from process_alphafold3_outputs_spark.operators.ranking import (
        calibration_report,
        calibration_summary,
    )

    rows = (
        [(0.95, 1)] * 3 + [(0.95, 0)]      # bin 9: conf .95, acc .75
        + [(0.05, 0)] * 2                   # bin 0: conf .05, acc 0
        + [(0.5, 1), (0.5, 0)]              # bin 5: perfectly calibrated
    )
    df = spark.createDataFrame(rows, "score double, y long")
    rep = {r.bin: r for r in calibration_report(df, "score", "y").collect()}
    assert set(rep) == {0, 5, 9}
    assert (rep[9].n, rep[9].conf, rep[9].acc) == (4, 0.95, 0.75)
    assert (rep[9].lo, rep[9].hi) == (0.9, 1.0)
    assert (rep[0].conf, rep[0].acc) == (0.05, 0.0)
    assert (rep[5].conf, rep[5].acc) == (0.5, 0.5)
    s = calibration_summary(df, "score", "y").collect()[0]
    # ece = (800000 + 100000 + 0) / 8e6; mce = .2; brier = 1.415e12/8e12
    assert (s.n, s.n_bins, s.n_occupied) == (8, 10, 3)
    assert (s.ece, s.mce, s.brier) == (0.1125, 0.2, 0.176875)
    # score exactly 1.0 -> last bin (right-closed)
    one = spark.createDataFrame([(1.0, 1)], "score double, y long")
    assert calibration_report(one, "score", "y").collect()[0].bin == 9
    # guards fire at action time
    bad_s = spark.createDataFrame([(1.5, 1)], "score double, y long")
    with _pt.raises(Exception, match="outside"):
        calibration_report(bad_s, "score", "y").collect()
    bad_y = spark.createDataFrame([(0.5, 2)], "score double, y long")
    with _pt.raises(Exception, match="binarize"):
        calibration_summary(bad_y, "score", "y").collect()
    # NULL rows excluded; empty -> n 0, NULL stats
    nulls = spark.createDataFrame(
        [(0.5, 1), (None, 1), (0.5, None)], "score double, y long"
    )
    assert calibration_summary(nulls, "score", "y").collect()[0].n == 1
    empty = spark.createDataFrame([], "score double, y long")
    s = calibration_summary(empty, "score", "y").collect()[0]
    assert (s.n, s.n_occupied, s.ece, s.brier) == (0, 0, None, None)


def test_watch_calibration_stream_equals_batch_and_replays(spark, tmp_path):
    """Two epochs through the 27th watcher == the batch
    calibration_summary over the union (EXACT — every bin quantity is
    a pure sum over <= n_bins rows), and a crash-replayed epoch is
    idempotent."""
    import os

    from process_alphafold3_outputs_spark.operators.ranking import (
        calibration_summary,
    )
    from process_alphafold3_outputs_spark.streaming.ingest import (
        _calibration_process_batch,
        watch_calibration,
    )

    schema = "score double, y long"
    inbox = str(tmp_path / "inbox")
    out = str(tmp_path / "cal")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    e0 = [(0.95, 1), (0.95, 0), (0.05, 0), (0.5, 1)]
    e1 = [(0.95, 1), (0.5, 0), (0.05, 0), (0.05, 1), (0.75, 1)]
    spark.createDataFrame(e0, schema).coalesce(1).write.mode(
        "append").parquet(inbox)
    q = watch_calibration(
        spark, inbox, out, state, ckpt, schema, "score", "y")
    try:
        q.processAllAvailable()
        spark.createDataFrame(e1, schema).coalesce(1).write.mode(
            "append").parquet(inbox)
        q.processAllAvailable()
    finally:
        q.stop()

    def row(path):
        r = spark.read.parquet(path).collect()
        assert len(r) == 1
        return (r[0].n, r[0].n_occupied, r[0].ece, r[0].mce, r[0].brier)

    union = spark.createDataFrame(e0 + e1, schema)
    want = calibration_summary(union, "score", "y").collect()[0]
    want_t = (want.n, want.n_occupied, want.ece, want.mce, want.brier)
    assert row(os.path.join(out, "epoch_id=1")) == want_t
    # crash replay of epoch 1: identical output (reads pre-epoch state)
    _calibration_process_batch(
        spark.createDataFrame(e1, schema), 1, state, out, "score",
        "y", 10)
    assert row(os.path.join(out, "epoch_id=1")) == want_t
