"""Retrieval-quality evaluation — the standard IR metrics that grade a
ranked retrieval run (BM25, hybrid RRF, any ANN index here) against
graded relevance judgments: precision@k, recall@k, reciprocal rank,
average precision, and nDCG (Järvelin & Kekäläinen 2002).

The engine ships four retrieval families (BM25 / hybrid / LSH / IVF /
PQ) and a raw recall row per ANN path; this module turns any of their
outputs into the metrics an offline eval actually reports, so "did the
cheaper index hurt ranked quality" is one join away from the run table.

Scale shape: both inputs are EVALUATION-sized — ``hits`` is queries × k
rows (the output of a top-k retrieval, never the corpus) and ``qrels``
is queries × judged-docs. One equi-join on (query, doc), two windows
partitioned by query, and two query-keyed aggregations; the corpus is
never touched. Metrics are ratios of exact integers except the DCG
log2 terms, rounded once at the end (the repo's standard libm-drift
defusal).

Conventions (standard trec_eval semantics):
- ``rank`` is 1-based; rows with rank > k are ignored.
- relevance grades are integers >= 1; a (query, doc) pair absent from
  ``qrels`` is irrelevant. Gain is 2^rel − 1.
- queries with no qrels row are dropped (undefined denominators), like
  trec_eval; queries with qrels but no hits score 0 across the board.
- precision@k divides by k (a run that returns fewer than k rows is
  penalized); AP@k divides by min(n_rel, k); nDCG's ideal ranking
  breaks gain ties by doc id so both engines agree on IDCG exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def ranking_metrics(
    hits: DataFrame,
    qrels: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
) -> DataFrame:
    """(query, n_rel, n_hits, n_rel_hit, precision_k, recall_k, rr,
    ap_k, ndcg_k) — one row per judged query.

    ``hits``: (query, doc, rank) — a retrieval run. ``qrels``: (query,
    doc, rel>=1) — graded judgments, ONE row per (query, doc) pair
    (duplicate judgments would fan out the join and inflate n_rel —
    dedup to max-grade upstream, as trec_eval requires). See the
    module docstring for the exact trec_eval-style conventions."""
    h = hits.select(
        F.col(query_col).alias("_q"),
        F.col(doc_col).alias("_d"),
        F.col(rank_col).cast("long").alias("_rank"),
    ).filter(F.col("_rank") <= k)
    r = qrels.select(
        F.col(query_col).alias("_q"),
        F.col(doc_col).alias("_d"),
        F.col(rel_col).cast("long").alias("_rel"),
    ).filter(F.col("_rel") >= 1)

    # judged hits: rel joined onto the run (absent -> 0)
    jh = h.join(r, ["_q", "_d"], "left").withColumn(
        "_rel", F.coalesce("_rel", F.lit(0))
    )
    w_cum = (
        Window.partitionBy("_q")
        .orderBy("_rank")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    jh = jh.withColumn(
        "_cum_rel", F.sum((F.col("_rel") >= 1).cast("long")).over(w_cum)
    )
    run = jh.groupBy("_q").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits"),
        F.sum((F.col("_rel") >= 1).cast("long")).alias("n_rel_hit"),
        F.min(
            F.when(F.col("_rel") >= 1, F.col("_rank"))
        ).alias("_first_rel_rank"),
        # AP numerator: precision@r summed at each relevant rank —
        # exact integers until the division
        F.sum(
            F.when(
                F.col("_rel") >= 1,
                F.col("_cum_rel") / F.col("_rank"),
            )
        ).alias("_ap_num"),
        F.sum(
            F.when(
                F.col("_rel") >= 1,
                (F.pow(F.lit(2.0), F.col("_rel")) - 1)
                / F.log2(F.col("_rank") + 1),
            )
        ).alias("_dcg"),
    )
    # ideal DCG: judgments sorted by gain desc (doc id breaks ties so
    # both engines rank identically), truncated at k
    w_ideal = Window.partitionBy("_q").orderBy(
        F.col("_rel").desc(), F.col("_d")
    )
    ideal = (
        r.withColumn("_irank", F.row_number().over(w_ideal))
        .filter(F.col("_irank") <= k)
        .groupBy("_q")
        .agg(
            F.sum(
                (F.pow(F.lit(2.0), F.col("_rel")) - 1)
                / F.log2(F.col("_irank") + 1)
            ).alias("_idcg")
        )
    )
    judged = r.groupBy("_q").agg(
        F.count(F.lit(1)).cast("long").alias("n_rel")
    )
    out = (
        judged.join(ideal, "_q")
        .join(run, "_q", "left")
        .select(
            F.col("_q").alias(query_col),
            "n_rel",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.coalesce("n_rel_hit", F.lit(0)).cast("long").alias(
                "n_rel_hit"
            ),
            F.round(
                F.coalesce("n_rel_hit", F.lit(0)) / F.lit(float(k)), 6
            ).alias("precision_k"),
            F.round(
                F.coalesce("n_rel_hit", F.lit(0)) / F.col("n_rel"), 6
            ).alias("recall_k"),
            F.round(
                F.coalesce(1.0 / F.col("_first_rel_rank"), F.lit(0.0)), 6
            ).alias("rr"),
            F.round(
                F.coalesce("_ap_num", F.lit(0.0))
                / F.least(F.col("n_rel"), F.lit(k)).cast("double"),
                6,
            ).alias("ap_k"),
            F.round(
                F.coalesce("_dcg", F.lit(0.0)) / F.col("_idcg"), 6
            ).alias("ndcg_k"),
        )
    )
    return out


def ranking_summary(metrics: DataFrame, query_col: str = "query_id") -> DataFrame:
    """One macro-averaged row over :func:`ranking_metrics` output —
    (n_queries, mean_precision_k, mean_recall_k, mrr, map_k,
    mean_ndcg_k). Macro = every judged query weighs the same,
    regardless of its judgment count (the trec_eval convention)."""
    return metrics.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.round(F.avg("precision_k"), 6).alias("mean_precision_k"),
        F.round(F.avg("recall_k"), 6).alias("mean_recall_k"),
        F.round(F.avg("rr"), 6).alias("mrr"),
        F.round(F.avg("ap_k"), 6).alias("map_k"),
        F.round(F.avg("ndcg_k"), 6).alias("mean_ndcg_k"),
    )


def agreement_kappa(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """One row (n, po, pe, kappa) — multi-category Cohen's kappa
    between two label columns: the chance-corrected agreement measure
    behind every labeling-pipeline audit ("do my two quality gates /
    annotators / model versions actually agree, beyond what their
    marginals force?"). po is raw agreement, pe the expected agreement
    of independent raters with the observed marginals, kappa =
    (po − pe)/(1 − pe). Rows where EITHER label is NULL are excluded
    (an unlabeled item has no agreement to measure); kappa is NULL
    when pe == 1 (both raters constant — 0/0, no information) and the
    row reports n = 0 with all-NULL stats on an empty input rather
    than vanishing.

    Exactness: the confusion table and both marginals are exact int64
    counts; pe's numerator Σ_k row_k·col_k is summed in DECIMAL so it
    is exact and ORDER-INDEPENDENT past the int64 bound (row·col ≤ n²
    overflows int64 at n > 3.0e9 rows — real at corpus scale); the
    only doubles are po = diag/n, pe = num/(n·n), and kappa, each in
    one fixed operand order + the 6-dp floor round, so the SQL oracle
    reproduces them bit-for-bit.

    Scale shape: ONE groupBy(a, b) count — a single shuffle whose
    group count is |A|·|B| (label cardinalities; this is a LABEL
    statistic — profile cardinality first if a column might be
    ID-like) — then margin joins on the category-sized table only.
    The confusion table is materialized once (``localCheckpoint``) so
    the totals and both margins read it instead of each re-running
    the corpus groupBy — the raw input is scanned exactly ONCE."""
    a, b = F.col(col_a).cast("string"), F.col(col_b).cast("string")
    c = (
        df.filter(a.isNotNull() & b.isNotNull())
        .groupBy(a.alias("_a"), b.alias("_b"))
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    c = c.localCheckpoint()
    tot = c.agg(
        F.sum("_n").alias("_t"),
        F.sum(F.when(F.col("_a") == F.col("_b"), F.col("_n"))).alias(
            "_diag"
        ),
    )
    rows_m = c.groupBy(F.col("_a").alias("_k")).agg(
        F.sum("_n").alias("_ra")
    )
    cols_m = c.groupBy(F.col("_b").alias("_k")).agg(
        F.sum("_n").alias("_cb")
    )
    pe_num = (
        rows_m.join(cols_m, "_k")
        .agg(
            F.sum(
                F.col("_ra").cast("decimal(38,0)") * F.col("_cb")
            ).alias("_pe_num")
        )
    )
    r6 = lambda col: (  # noqa: E731 — the cross-engine-exact floor round
        F.floor(col * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)
    )
    # zero-diagonal (no agreement at all) is po = 0.0, not NULL —
    # sum(when) with no otherwise returns NULL on an empty match set
    po = F.coalesce(F.col("_diag"), F.lit(0)).cast("double") / F.col(
        "_t"
    ).cast("double")
    pe = F.col("_pe_num").cast("double") / (
        F.col("_t").cast("double") * F.col("_t").cast("double")
    )
    kappa = (po - pe) / (F.lit(1.0) - pe)
    return (
        tot.crossJoin(pe_num)
        .select(
            F.coalesce(F.col("_t"), F.lit(0)).alias("n"),
            F.when(F.col("_t") > 0, r6(po)).alias("po"),
            F.when(F.col("_t") > 0, r6(pe)).alias("pe"),
            F.when(
                (F.col("_t") > 0) & (pe < 1.0), r6(kappa)
            ).alias("kappa"),
        )
    )


def fleiss_kappa(
    df: DataFrame,
    item_col: str,
    label_col: str,
) -> DataFrame:
    """One row (n_items, n_raters, n_categories, pbar, pe, kappa) —
    Fleiss' kappa over a ratings table with one row per (item, rating):
    the MULTI-rater generalization of :func:`agreement_kappa` ("do my
    THREE quality gates / five annotators agree beyond chance?").
    Every item must carry the same number of ratings r (the classic
    Fleiss panel); a ragged panel is refused loudly at action time
    with guidance (filter to the complete-panel subset first), as is
    r == 1 (a single-rater panel has no agreement to measure). NULL
    labels are excluded before panel-size checking; an empty input
    reports n_items = 0 with all-NULL stats rather than vanishing.

    Definitions (n items, r ratings each, n_ij ratings of category j
    on item i, c_j = Σ_i n_ij): P̄ = (Σ_ij n_ij² − n·r) / (n·r·(r−1)),
    P̄e = Σ_j c_j² / (n·r)², kappa = (P̄ − P̄e)/(1 − P̄e), NULL at
    P̄e == 1 (all ratings one category — 0/0, no information).

    Exactness: n_ij, Σ_ij n_ij² and the panel size are exact int64
    (Σ n_ij² ≤ n·r² — int64-safe for any real panel); Σ_j c_j² is
    summed in DECIMAL (c_j ≤ n·r, so c_j² overflows int64 past
    n·r > 3e9 ratings); P̄, P̄e and kappa are each ONE double division
    in fixed operand order + the 6-dp floor round, so the SQL oracle
    reproduces them bit-for-bit.

    Scale shape: ONE groupBy(item, label) count collapses the ratings
    (the corpus-sized shuffle), then every later pass runs on that
    counts table or its item-/category-keyed rollups. The counts table
    is materialized once (``localCheckpoint`` — EAGER at call time,
    the README localCheckpoint contract) so the per-item and
    per-category branches read it instead of re-running the corpus
    groupBy. The ragged-panel refusal is IN-PATH (min/max ride the
    same final agg — no extra scan)."""
    lab = F.col(label_col).cast("string")
    c = (
        df.filter(lab.isNotNull() & F.col(item_col).isNotNull())
        .groupBy(
            F.col(item_col).alias("_i"), lab.alias("_j")
        )
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    c = c.localCheckpoint()
    per_item = c.groupBy("_i").agg(
        F.sum("_n").alias("_r"),
        F.sum(F.col("_n") * F.col("_n")).alias("_s2"),
    )
    item_tot = per_item.agg(
        F.count(F.lit(1)).alias("_n_items"),
        F.min("_r").alias("_r_min"),
        F.max("_r").alias("_r_max"),
        F.sum("_s2").alias("_s"),
    )
    cat_tot = c.groupBy("_j").agg(F.sum("_n").alias("_c")).agg(
        F.count(F.lit(1)).alias("_n_cats"),
        F.sum(F.col("_c").cast("decimal(38,0)") * F.col("_c")).alias(
            "_sq"
        ),
    )
    r6 = lambda col: (  # noqa: E731 — the cross-engine-exact floor round
        F.floor(col * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)
    )
    # in-path panel guards: ride the min/max the final agg already
    # computes — no extra scan, loud at action time
    r_ok = F.when(
        (F.col("_n_items") == 0)
        | ((F.col("_r_min") == F.col("_r_max")) & (F.col("_r_min") >= 2)),
        F.col("_r_min"),
    ).otherwise(
        F.raise_error(
            F.format_string(
                "fleiss_kappa: ratings per item range [%s, %s] — "
                "Fleiss' kappa is defined for a CONSTANT panel of "
                ">= 2 raters per item; filter to the complete-panel "
                "subset (or drop single-rated items) first.",
                F.col("_r_min"),
                F.col("_r_max"),
            )
        )
    )
    n_i = F.col("_n_items").cast("double")
    r_d = r_ok.cast("double")
    nr = n_i * r_d
    pbar = (
        (F.col("_s") - F.col("_n_items") * r_ok).cast("double")
        / (nr * (r_d - F.lit(1.0)))
    )
    pe = F.col("_sq").cast("double") / (nr * nr)
    kappa = (pbar - pe) / (F.lit(1.0) - pe)
    live = F.col("_n_items") > 0
    return item_tot.crossJoin(cat_tot).select(
        F.coalesce(F.col("_n_items"), F.lit(0)).cast("long").alias(
            "n_items"
        ),
        F.when(live, r_ok).cast("long").alias("n_raters"),
        F.coalesce(F.col("_n_cats"), F.lit(0)).cast("long").alias(
            "n_categories"
        ),
        F.when(live, r6(pbar)).alias("pbar"),
        F.when(live, r6(pe)).alias("pe"),
        F.when(live & (pe < 1.0), r6(kappa)).alias("kappa"),
    )


def _calibration_binned(
    df: DataFrame, score_col: str, label_col: str, n_bins: int
) -> DataFrame:
    """Shared per-bin aggregation: (_bin, _n, _pos, _sfp, _bnum) with
    in-path domain guards. Scores are read at the repo's 6-dp
    fixed-point precision (``floor(s·1e6 + 0.5)``) so every
    confidence/Brier sum is EXACT int64/DECIMAL arithmetic."""
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1 (got {n_bins})")
    s, y = F.col(score_col).cast("double"), F.col(label_col).cast("long")
    s_ok = F.when((s >= 0.0) & (s <= 1.0), s).otherwise(
        F.raise_error(
            F.format_string(
                "calibration: score %s outside [0, 1] — calibration "
                "is defined on probabilities; clamp or normalize "
                "upstream.",
                s,
            )
        )
    )
    y_ok = F.when(y.isin(0, 1), y).otherwise(
        F.raise_error(
            F.format_string(
                "calibration: label %s not in {0, 1} — binarize "
                "upstream.",
                y,
            )
        )
    )
    fp = F.floor(s_ok * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    binned = df.filter(s.isNotNull() & y.isNotNull()).select(
        F.least(
            F.floor(s_ok * F.lit(float(n_bins))).cast("long"),
            F.lit(n_bins - 1),
        ).alias("_bin"),
        fp.alias("_fp"),
        y_ok.alias("_y"),
    )
    d = F.col("_fp") - F.lit(1000000) * F.col("_y")
    return binned.groupBy("_bin").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_y").alias("_pos"),
        F.sum("_fp").alias("_sfp"),
        F.sum(d.cast("decimal(38,0)") * d).alias("_bnum"),
    )


def calibration_report(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability table of a probabilistic classifier: one row per
    OCCUPIED score bin — (bin, lo, hi, n, conf, acc) where ``conf``
    is the mean predicted probability in the bin and ``acc`` the
    observed positive rate ("when the model says 0.7, does it happen
    70% of the time"). The quality-classifier audit that belongs next
    to :func:`ranking_metrics` — a filtering pipeline that trusts
    uncalibrated scores mis-sizes every quality gate built on them.
    Scores outside [0, 1] and labels outside {0, 1} are refused
    loudly in-path; NULL rows are excluded. The last bin is
    right-closed (score 1.0 lands in bin n_bins − 1).

    Exactness: per-bin counts and positives are exact int64; ``conf``
    sums the 6-dp fixed-point scores exactly and divides ONCE;
    ``acc`` is one division — each + the 6-dp floor round.

    Scale shape: ONE corpus scan into a groupBy over ≤ n_bins groups
    (map-side combinable) — nothing downstream touches row grain."""
    agg = _calibration_binned(df, score_col, label_col, n_bins)
    r6 = lambda c: (  # noqa: E731 — the cross-engine-exact floor round
        F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)
    )
    nb = F.lit(float(n_bins))
    return agg.select(
        F.col("_bin").alias("bin"),
        r6(F.col("_bin").cast("double") / nb).alias("lo"),
        r6((F.col("_bin") + 1).cast("double") / nb).alias("hi"),
        F.col("_n").cast("long").alias("n"),
        r6(
            F.col("_sfp").cast("double")
            / (F.col("_n").cast("double") * F.lit(1000000.0))
        ).alias("conf"),
        r6(F.col("_pos").cast("double") / F.col("_n").cast("double")).alias(
            "acc"
        ),
    )


def calibration_summary(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """One row (n, n_bins, n_occupied, ece, mce, brier) over the same
    binning as :func:`calibration_report`:

    - ``ece``  — expected calibration error Σ_b (n_b/n)·|acc_b −
      conf_b|, computed as the EXACT int64 numerator Σ_b |pos_b·1e6 −
      sfp_b| over n·1e6 — one double division total;
    - ``mce``  — max_b |acc_b − conf_b| (one division per bin, ≤
      n_bins terms);
    - ``brier`` — mean squared error of the 6-dp fixed-point score
      against the label, numerator summed in DECIMAL (d² ≤ 1e12 per
      row overflows int64 past ~9e6 rows).

    Empty input reports n = 0 with NULL stats. Same single-scan
    ≤ n_bins-group shape as the report."""
    return _calibration_finish(
        _calibration_binned(df, score_col, label_col, n_bins), n_bins
    )


def _calibration_finish(agg: DataFrame, n_bins: int) -> DataFrame:
    """Summary finish over a per-bin (_bin, _n, _pos, _sfp, _bnum)
    aggregate — the batch kernel and the streaming watcher
    (:func:`~..streaming.ingest.watch_calibration`) both end here, and
    every bin quantity is a pure sum, so stream == batch is exact by
    construction."""
    diff = F.abs(
        F.col("_pos") * F.lit(1000000) - F.col("_sfp")
    )
    tot = agg.agg(
        F.sum("_n").alias("_nt"),
        F.count(F.lit(1)).alias("_occ"),
        F.sum(diff).alias("_enum"),
        F.max(
            diff.cast("double")
            / (F.col("_n").cast("double") * F.lit(1000000.0))
        ).alias("_mce"),
        F.sum("_bnum").alias("_bsum"),
    )
    r6 = lambda c: (  # noqa: E731 — the cross-engine-exact floor round
        F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)
    )
    nd = F.col("_nt").cast("double")
    live = F.col("_nt") > 0
    return tot.select(
        F.coalesce(F.col("_nt"), F.lit(0)).cast("long").alias("n"),
        F.lit(n_bins).cast("long").alias("n_bins"),
        F.coalesce(F.col("_occ"), F.lit(0)).cast("long").alias(
            "n_occupied"
        ),
        F.when(
            live,
            r6(F.col("_enum").cast("double") / (nd * F.lit(1000000.0))),
        ).alias("ece"),
        F.when(live, r6(F.col("_mce"))).alias("mce"),
        F.when(
            live,
            r6(
                F.col("_bsum").cast("double")
                / (nd * F.lit(1e12))
            ),
        ).alias("brier"),
    )
