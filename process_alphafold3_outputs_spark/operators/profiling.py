"""One-scan table profiling — the DISCOVERY dual of the Deequ-style
constraint report in ``quality.expectation_report``: before you can
write expectations for a new 100 TB table, you profile it. Two
operators, each a single corpus scan regardless of column count (the
fused-projection discipline every per-column loop in this engine
follows — N columns must never cost N scans):

- :func:`profile_table` — one row per column with row/null/distinct
  counts, null fraction, and lexicographic-on-string min/max, computed
  in ONE global aggregation (per-column expressions fused into one
  agg; the exchange moves a single partial row per task).
- :func:`top_values` — per-column heavy hitters: one unpivot pass,
  one keyed aggregation, one bounded window (top-k per column).

``n_distinct`` is exact by default (one-scan exact distincts for many
columns rewrite to an OptimizeDistinctAggregates expand — still one
scan of the data); pass ``approx=True`` for the HLL++ sketch form at
scale, where exact per-column distincts on a 100 TB fact table are a
shuffle you usually don't want for a profile. The approx form is
Spark's JVM-side estimator, so it carries no SQL oracle — the driver
query uses the exact form; the approx path is pinned by a relative-
error pytest instead.

Everything lands as STRINGS in the min/max slots so one report schema
covers heterogenous columns (the profile is a reviewer artifact, not
an input to arithmetic); numeric semantics stay correct because the
min/max are computed on the NATIVE type and cast after.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def profile_table(
    df: DataFrame,
    cols: list[str] | None = None,
    approx: bool = False,
) -> DataFrame:
    """One row per column: (col_name, dtype, n_rows, n_null,
    null_frac, n_distinct, min_value, max_value) — the whole profile
    in ONE aggregation over ONE scan. NULLs count toward ``n_rows``
    and ``n_null`` but not ``n_distinct`` (SQL COUNT(DISTINCT)
    semantics); ``min/max`` are NULL for an all-NULL column.

    ``approx=True`` swaps exact distincts for ``approx_count_distinct``
    (HLL++, default rsd 5%) — the scale form for wide fact tables where
    the exact rewrite's expand multiplies shuffle rows by the column
    count."""
    dtypes = dict(df.dtypes)
    if cols is None:
        cols = [c for c, _ in df.dtypes]
    missing = [c for c in cols if c not in dtypes]
    if missing:
        raise ValueError(f"columns not in the frame: {missing}")
    distinct = (
        (lambda c: F.approx_count_distinct(c))
        if approx
        else (lambda c: F.countDistinct(c))
    )

    def orderable(c: str) -> bool:
        # map columns are neither orderable nor group-able in Spark:
        # min/max/COUNT(DISTINCT) on them fail at analysis. Profile
        # their counts and leave the order/distinct slots NULL rather
        # than crash the whole report on one column.
        return not dtypes[c].startswith("map<")

    null_l = F.lit(None).cast("long")
    null_s = F.lit(None).cast("string")
    agg = df.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        *[F.count(c).cast("long").alias(f"_nn_{c}") for c in cols],
        *[
            (distinct(c).cast("long") if orderable(c) else null_l).alias(
                f"_nd_{c}"
            )
            for c in cols
        ],
        *[
            (F.min(c).cast("string") if orderable(c) else null_s).alias(
                f"_mn_{c}"
            )
            for c in cols
        ],
        *[
            (F.max(c).cast("string") if orderable(c) else null_s).alias(
                f"_mx_{c}"
            )
            for c in cols
        ],
    )
    return agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col_name"),
                        F.lit(dtypes[c]).alias("dtype"),
                        F.col("_n").alias("n_rows"),
                        (F.col("_n") - F.col(f"_nn_{c}")).alias("n_null"),
                        F.when(F.col("_n") > 0,
                               F.round(
                                   (F.col("_n") - F.col(f"_nn_{c}"))
                                   / F.col("_n"), 6
                               ))
                        .otherwise(F.lit(None).cast("double"))
                        .alias("null_frac"),
                        F.col(f"_nd_{c}").alias("n_distinct"),
                        F.col(f"_mn_{c}").alias("min_value"),
                        F.col(f"_mx_{c}").alias("max_value"),
                    )
                    for c in cols
                ]
            )
        ).alias("_p")
    ).select("_p.*")


def top_values(
    df: DataFrame,
    cols: list[str] | None = None,
    k: int = 5,
) -> DataFrame:
    """(col_name, value, n, rank) — the ``k`` most frequent values per
    column (the reviewer's "what is actually in this column" view, and
    the skew pre-flight for join/groupBy keys): ONE unpivot pass over
    the corpus, one (col, value)-keyed aggregation with map-side
    combine, one window bounded at k rows per column. NULL appears as
    a value (a dominant-NULL column is exactly what a profile must
    surface) under the key pair (is_null, value) — the same
    collision-proof keying as chi2_drift — and renders as NULL in the
    output. Ties break by value string for cross-engine determinism."""
    if cols is None:
        cols = [c for c, _ in df.dtypes]
    if k < 1:
        raise ValueError(f"k must be >= 1 (got {k})")
    long = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col_name"),
                        F.col(c).cast("string").isNull().alias("_is_null"),
                        F.coalesce(F.col(c).cast("string"), F.lit(""))
                        .alias("_v"),
                    )
                    for c in cols
                ]
            )
        ).alias("_e")
    ).select("_e.*")
    counts = long.groupBy("col_name", "_is_null", "_v").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.partitionBy("col_name").orderBy(
        F.desc("n"), F.asc("_is_null"), F.asc("_v")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "col_name",
            F.when(F.col("_is_null"), F.lit(None).cast("string"))
            .otherwise(F.col("_v"))
            .alias("value"),
            "n",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def profile_diff(
    ref: DataFrame,
    cur: DataFrame,
    cols: list[str] | None = None,
) -> DataFrame:
    """(col_name, status, dtype_ref, dtype_cur, null_frac_ref,
    null_frac_cur, null_frac_delta, n_distinct_ref, n_distinct_cur) —
    schema-and-stats drift between two snapshots of the same table:
    columns ``added``/``removed``/``retyped``/``kept``, plus the two
    profile signals that most often break a downstream consumer (a
    null-rate jump, a distinct-count collapse). One scan per side
    (:func:`profile_table`), then a full-outer join over the
    COLUMN-COUNT-bounded profile rows — the cross-snapshot dual of the
    value-level drift statistics in ``operators.drift``.

    ``cols=None`` profiles each side's own full schema, which is what
    lets added/removed columns surface."""
    p_ref = profile_table(ref, cols).select(
        "col_name",
        F.col("dtype").alias("dtype_ref"),
        F.col("null_frac").alias("null_frac_ref"),
        F.col("n_distinct").alias("n_distinct_ref"),
    )
    p_cur = profile_table(cur, cols).select(
        "col_name",
        F.col("dtype").alias("dtype_cur"),
        F.col("null_frac").alias("null_frac_cur"),
        F.col("n_distinct").alias("n_distinct_cur"),
    )
    j = p_ref.join(p_cur, "col_name", "full_outer")
    status = (
        F.when(F.col("dtype_ref").isNull(), F.lit("added"))
        .when(F.col("dtype_cur").isNull(), F.lit("removed"))
        .when(F.col("dtype_ref") != F.col("dtype_cur"), F.lit("retyped"))
        .otherwise(F.lit("kept"))
    )
    return j.select(
        "col_name",
        status.alias("status"),
        "dtype_ref",
        "dtype_cur",
        "null_frac_ref",
        "null_frac_cur",
        F.when(
            F.col("null_frac_ref").isNotNull()
            & F.col("null_frac_cur").isNotNull(),
            F.round(F.col("null_frac_cur") - F.col("null_frac_ref"), 6),
        ).alias("null_frac_delta"),
        "n_distinct_ref",
        "n_distinct_cur",
    )


def profile_numeric(
    df: DataFrame,
    cols: list[str],
) -> DataFrame:
    """(col_name, n, mean, p25, p50, p75) — the numeric companion to
    :func:`profile_table`: exact linear-interpolated quartiles and the
    mean for MANY columns in ONE aggregation over ONE scan (same
    fusion discipline; quantiles of different columns never cost
    separate scans). NULLs excluded per column; an all-NULL column
    reports n=0 with NULL moments. Values round to 6 dp so the report
    is stable cross-engine (DuckDB's quantile_cont uses the same
    linear interpolation).

    Exact percentiles sort per column inside the aggregate — the right
    tool for a profile read by a human; for a monitoring loop at 100 TB
    prefer the mergeable fixed-bin sketch
    (``sketches.histogram_quantiles``) and pay the binning error
    instead of the sort."""
    if not cols:
        raise ValueError("cols must be non-empty")
    dtypes = dict(df.dtypes)
    missing = [c for c in cols if c not in dtypes]
    if missing:
        raise ValueError(f"columns not in the frame: {missing}")

    def d(c):
        return F.col(c).cast("double")

    agg = df.agg(
        *[F.count(d(c)).cast("long").alias(f"_n_{c}") for c in cols],
        *[F.round(F.avg(d(c)), 6).alias(f"_mean_{c}") for c in cols],
        *[
            F.percentile(d(c), F.lit([0.25, 0.5, 0.75])).alias(f"_q_{c}")
            for c in cols
        ],
    )
    return agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col_name"),
                        F.col(f"_n_{c}").alias("n"),
                        F.col(f"_mean_{c}").alias("mean"),
                        F.round(F.col(f"_q_{c}")[0], 6).alias("p25"),
                        F.round(F.col(f"_q_{c}")[1], 6).alias("p50"),
                        F.round(F.col(f"_q_{c}")[2], 6).alias("p75"),
                    )
                    for c in cols
                ]
            )
        ).alias("_p")
    ).select("_p.*")


def candidate_keys(
    df: DataFrame,
    cols: list[str] | None = None,
    max_arity: int = 2,
    approx: bool = False,
    max_exact_combos: int = 45,
) -> DataFrame:
    """(columns, arity, n_rows, n_distinct, uniqueness, is_key) — which
    columns (and, at ``max_arity=2``, column pairs) uniquely identify a
    row: the discovery step before declaring a ``unique`` expectation,
    choosing a MERGE key, or bucketing a table. ALL combinations are
    measured in ONE aggregation over ONE scan (the fusion discipline —
    m columns + C(m,2) pairs never cost more scans).

    ``n_distinct`` uses COUNT(DISTINCT ...) semantics: a row with a
    NULL in ANY member column is skipped — so ``is_key``
    (n_distinct == n_rows) is true only when the combination is both
    complete and unique, which is exactly the key contract.

    ``approx=True`` swaps exact distincts for HLL++ (rsd ~5%) and
    reports ``is_key=NULL`` (a sketch cannot certify a key, only rule
    one out) — the scale form for a first pass over a wide 100 TB
    table; certify the survivors with a second exact pass over the few
    candidate combinations.

    ``max_exact_combos`` guards the exact form's plan shape: Spark
    rewrites N distinct aggregates in one agg via Expand — every input
    row is REPLICATED N times (one copy per distinct group) before the
    shuffle, so m columns cost an (m + m·(m−1)/2)-way row
    multiplication of the whole scan. The default cap of 45 combos
    (m = 9 columns at ``max_arity=2``) bounds that factor; a wider
    table refuses loudly and routes to ``approx=True`` (HLL++ sketches
    fuse WITHOUT Expand — one pass at any width), whose few survivors
    can then be certified exactly. Raise the cap deliberately if you
    have the cluster for the multiplication.
    """
    if cols is None:
        cols = [c for c, _ in df.dtypes]
    dtypes = dict(df.dtypes)
    missing = [c for c in cols if c not in dtypes]
    if missing:
        raise ValueError(f"columns not in the frame: {missing}")
    if max_arity not in (1, 2):
        raise ValueError(f"max_arity must be 1 or 2 (got {max_arity})")
    combos: list[tuple[str, ...]] = [(c,) for c in cols]
    if max_arity == 2:
        combos += [
            (cols[i], cols[j])
            for i in range(len(cols))
            for j in range(i + 1, len(cols))
        ]
    if not approx and len(combos) > max_exact_combos:
        raise ValueError(
            f"candidate_keys(approx=False) over {len(cols)} columns "
            f"plans {len(combos)} exact COUNT DISTINCTs as one "
            f"{len(combos)}-way Expand — every scanned row is "
            f"replicated {len(combos)}x before the shuffle "
            f"(> max_exact_combos={max_exact_combos}). Use "
            "approx=True for the first pass (HLL++ fuses without "
            "Expand) and certify the few survivors exactly, or raise "
            "max_exact_combos deliberately."
        )

    def distinct_expr(combo: tuple[str, ...]):
        if not approx:
            return F.count_distinct(*[F.col(c) for c in combo])
        nonnull = F.lit(True)
        for c in combo:
            nonnull = nonnull & F.col(c).isNotNull()
        return F.approx_count_distinct(
            F.when(nonnull, F.struct(*[F.col(c) for c in combo]))
        )

    # deliberately NOT spread: the distinct aggregates' partial combine
    # runs map-side off the scan, and the paired in-session A/B read the
    # pre-repartition as a pure loss (1.40 s with vs 0.95 s without) —
    # the Expand multiplication is cheaper than the extra exchange here.
    agg = df.select(*cols).agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        *[
            distinct_expr(combo).cast("long").alias(f"_nd_{i}")
            for i, combo in enumerate(combos)
        ],
    )
    is_key = (
        (lambda i: F.lit(None).cast("boolean"))
        if approx
        else (lambda i: F.col(f"_nd_{i}") == F.col("_n"))
    )
    return agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(",".join(combo)).alias("columns"),
                        F.lit(len(combo)).alias("arity"),
                        F.col("_n").alias("n_rows"),
                        F.col(f"_nd_{i}").alias("n_distinct"),
                        F.when(
                            F.col("_n") > 0,
                            F.round(F.col(f"_nd_{i}") / F.col("_n"), 6),
                        ).alias("uniqueness"),
                        is_key(i).alias("is_key"),
                    )
                    for i, combo in enumerate(combos)
                ]
            )
        ).alias("_k")
    ).select("_k.*")


def fk_containment(
    child: DataFrame,
    child_col: str,
    parent: DataFrame,
    parent_col: str,
    label: str | None = None,
) -> DataFrame:
    """One row — (relation, n_child_distinct, n_matched, containment,
    is_contained): what fraction of the child column's DISTINCT
    non-NULL values exist in the parent column (inclusion-dependency
    discovery — ``containment = 1.0`` is the foreign-key contract;
    anything lower quantifies referential breakage for a
    ``snapshot_diff``/expectations follow-up).

    Both sides collapse to their distinct values map-side BEFORE the
    join, so the join touches vocabulary-sized tables, never raw rows
    — at 100 TB the shuffle moves each distinct key once. NULL child
    values are excluded (SQL FK semantics: NULL references nothing).
    """
    rel = label or f"{child_col}->{parent_col}"
    cd = (
        child.select(F.col(child_col).alias("_v"))
        .filter(F.col("_v").isNotNull())
        .distinct()
    )
    pdv = (
        parent.select(F.col(parent_col).alias("_v"))
        .filter(F.col("_v").isNotNull())
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    j = cd.join(pdv, "_v", "left")
    return j.agg(
        F.lit(rel).alias("relation"),
        F.count(F.lit(1)).cast("long").alias("n_child_distinct"),
        F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_matched"),
        F.when(
            F.count(F.lit(1)) > 0,
            F.round(
                F.coalesce(F.sum("_hit"), F.lit(0)) / F.count(F.lit(1)), 6
            ),
        ).alias("containment"),
        F.coalesce(
            F.coalesce(F.sum("_hit"), F.lit(0)) == F.count(F.lit(1)),
            F.lit(False),
        ).alias("is_contained"),
    )


def correlation_matrix(
    df: DataFrame,
    cols: list[str],
) -> DataFrame:
    """(col_a, col_b, n, corr) — Pearson correlation for EVERY column
    pair in ONE aggregation over ONE scan (the fusion discipline:
    C(m,2) pairs never cost C(m,2) passes). NULL policy is
    pairwise-complete: each pair uses exactly the rows where BOTH
    columns are non-NULL (the same contract pandas ``DataFrame.corr``
    ships), so per-pair n is part of the report — a correlation over
    3% of the rows should not read like one over all of them.

    corr is computed from the five fused sums
    (n·Σab − Σa·Σb) / sqrt(n·Σa² − (Σa)²) / sqrt(n·Σb² − (Σb)²),
    the identical expression tree the SQL oracle restates — engine
    library corr() implementations (Welford variants) differ in the
    last ulp, this form cannot. NULL when either side is constant or
    n < 2. Rounded via the cross-engine-exact floor form."""
    from .temporal import _r6

    if len(cols) < 2:
        raise ValueError("correlation_matrix needs at least 2 columns")
    dtypes = dict(df.dtypes)
    missing = [c for c in cols if c not in dtypes]
    if missing:
        raise ValueError(f"columns not in the frame: {missing}")
    pairs = [
        (cols[i], cols[j])
        for i in range(len(cols))
        for j in range(i + 1, len(cols))
    ]

    def d(c):
        return F.col(c).cast("double")

    exprs = []
    for i, (a, b) in enumerate(pairs):
        both = d(a).isNotNull() & d(b).isNotNull()
        va = F.when(both, d(a))
        vb = F.when(both, d(b))
        exprs += [
            F.count(va).cast("double").alias(f"_n_{i}"),
            F.sum(va).alias(f"_sa_{i}"),
            F.sum(vb).alias(f"_sb_{i}"),
            F.sum(va * vb).alias(f"_sab_{i}"),
            F.sum(va * va).alias(f"_saa_{i}"),
            F.sum(vb * vb).alias(f"_sbb_{i}"),
        ]
    agg = df.agg(*exprs)

    def corr_expr(i):
        n = F.col(f"_n_{i}")
        sa, sb = F.col(f"_sa_{i}"), F.col(f"_sb_{i}")
        sab = F.col(f"_sab_{i}")
        saa, sbb = F.col(f"_saa_{i}"), F.col(f"_sbb_{i}")
        va = n * saa - sa * sa
        vb = n * sbb - sb * sb
        return F.when(
            (n >= 2) & (va > 0) & (vb > 0),
            (n * sab - sa * sb) / F.sqrt(va) / F.sqrt(vb),
        )

    return agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(a).alias("col_a"),
                        F.lit(b).alias("col_b"),
                        F.col(f"_n_{i}").cast("long").alias("n"),
                        _r6(corr_expr(i)).alias("corr"),
                    )
                    for i, (a, b) in enumerate(pairs)
                ]
            )
        ).alias("_c")
    ).select("_c.*")


def top_values_timeline(
    df: DataFrame,
    cols: list[str],
    ts_sec_col: str,
    width: int,
    k: int = 5,
) -> DataFrame:
    """(bucket, col_name, value, n, rank) — :func:`top_values` per
    ``width``-second time bucket: WHEN did a column's category mix
    shift (a new dominant source appearing mid-crawl, a language mix
    flip after an ingest change) — the categorical companion to
    ``drift.psi_timeline``'s numeric when-axis. Same contract as
    top_values: ONE unpivot pass, one (bucket, col, value)-keyed
    aggregation with map-side combine, one window bounded at k rows
    per (bucket, col); NULL is a value under the collision-proof
    (is_null, value) key pair; ties break by value string for
    cross-engine determinism. Downstream row counts are
    buckets x cols x k — never raw events."""
    if not cols:
        raise ValueError("cols must be non-empty")
    if k < 1:
        raise ValueError(f"k must be >= 1 (got {k})")
    if width <= 0:
        raise ValueError(f"width must be positive seconds (got {width})")
    t = F.col(ts_sec_col).cast("long")
    long = df.select(
        (t - (((t % width) + width) % width)).alias("bucket"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col_name"),
                        F.col(c).cast("string").isNull().alias("_is_null"),
                        F.coalesce(F.col(c).cast("string"), F.lit(""))
                        .alias("_v"),
                    )
                    for c in cols
                ]
            )
        ).alias("_e"),
    ).select("bucket", "_e.*")
    counts = long.groupBy("bucket", "col_name", "_is_null", "_v").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.partitionBy("bucket", "col_name").orderBy(
        F.desc("n"), F.asc("_is_null"), F.asc("_v")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "bucket",
            "col_name",
            F.when(F.col("_is_null"), F.lit(None).cast("string"))
            .otherwise(F.col("_v"))
            .alias("value"),
            "n",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def profile_histogram(
    df: DataFrame,
    cols: list[str],
    n_bins: int = 10,
) -> DataFrame:
    """(col_name, bin, lo, hi, n) — equi-width histogram of MANY
    numeric columns, the shape-of-the-distribution view between
    :func:`profile_table`'s min/max and :func:`top_values`'s discrete
    hitters. Fused: ONE bounds aggregation (collected as a
    column-bounded row — the psi_report_many discipline) + ONE binning
    scan for every column together; N columns never cost N scans.

    Every (column, bin) row is PRESENT (n=0 for empty bins — a gap in
    the middle of a distribution is a finding, not a missing row);
    bin edges come from the observed [min, max] with the last bin
    right-closed (the value at max lands in bin n_bins−1, the
    psi/drift clamp rule); a constant column puts everything in bin 0
    with lo == hi. NULLs are excluded (profile_table owns null
    accounting); an all-NULL or empty column contributes NO rows
    rather than fabricating edges — its absence from the output IS
    the report. Edges round to 6 dp by the cross-engine-exact floor
    form."""
    if not cols:
        raise ValueError("cols must be non-empty")
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1 (got {n_bins})")
    dtypes = dict(df.dtypes)
    missing = [c for c in cols if c not in dtypes]
    if missing:
        raise ValueError(f"columns not in the frame: {missing}")
    brow = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"_mn_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"_mx_{c}") for c in cols],
    ).collect()[0]
    live = [c for c in cols if brow[f"_mn_{c}"] is not None]
    if not live:
        return df.sparkSession.createDataFrame(
            [], "col_name string, bin int, lo double, hi double, n long"
        )

    def r6(x: float) -> float:
        import math

        return math.floor(x * 1e6 + 0.5) / 1e6

    grid_rows = []
    for c in live:
        mn, mx = float(brow[f"_mn_{c}"]), float(brow[f"_mx_{c}"])
        # edges in the oracle's exact operand order mn + b*(mx-mn)/n —
        # a precomputed w = (mx-mn)/n associates differently and can
        # differ in the last ulp, surviving the 1e6 floor-round (the
        # exact-floor-form cross-engine discipline)
        for b in range(n_bins):
            grid_rows.append(
                (
                    c,
                    b,
                    r6(mn + b * (mx - mn) / n_bins),
                    r6(mn + (b + 1) * (mx - mn) / n_bins),
                )
            )
    grid = df.sparkSession.createDataFrame(
        grid_rows, "col_name string, bin int, lo double, hi double"
    )
    long = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col_name"),
                        F.col(c).cast("double").alias("_x"),
                        F.lit(float(brow[f"_mn_{c}"]))
                        .alias("_mn"),
                        F.lit(float(brow[f"_mx_{c}"]))
                        .alias("_mx"),
                    )
                    for c in live
                ]
            )
        ).alias("_e")
    ).select("_e.*").filter(F.col("_x").isNotNull())
    binned = long.select(
        "col_name",
        F.when(F.col("_mx") == F.col("_mn"), F.lit(0))
        .otherwise(
            F.least(
                F.lit(n_bins - 1),
                F.greatest(
                    F.lit(0),
                    F.floor(
                        (F.col("_x") - F.col("_mn"))
                        * n_bins
                        / (F.col("_mx") - F.col("_mn"))
                    ).cast("int"),
                ),
            )
        )
        .cast("int")
        .alias("bin"),
    ).groupBy("col_name", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    # hint on the RIGHT side: a left join can only broadcast its build
    # side, and binned is (cols x bins)-bounded by the aggregation
    return (
        grid.join(F.broadcast(binned), ["col_name", "bin"], "left")
        .select(
            "col_name",
            "bin",
            "lo",
            "hi",
            F.coalesce("_n", F.lit(0)).cast("long").alias("n"),
        )
    )


def mutual_information(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """One row (n, h_a, h_b, h_ab, mi, nmi) — Shannon entropies and
    the mutual information of two categorical columns: the dependency
    detector between :func:`candidate_keys` (exact functional
    dependency) and :func:`correlation_matrix` (linear, numeric-only)
    — MI catches "props is 92% determined by event_type" where
    neither a key check nor Pearson sees anything. NULL is a category
    (this is profiling: a column that is NULL exactly when another
    column is 'web' IS a dependency), keyed by the collision-proof
    (is_null, value) pair. ``nmi = mi / ((h_a + h_b)/2)`` in [0, 1]
    (NULL when both columns are constant — nothing to depend on);
    ``mi = h_a + h_b − h_ab`` in nats.

    Exactness: all counts are exact int64; each entropy is
    ``ln(n) − Σ c·ln(c) / n`` with the Σ over exact-integer counts —
    the drift_js ln-then-round-6 cross-engine discipline (term-order
    double drift is ~1e-16·terms, five orders below the 5e-7 rounding
    threshold). Scale shape: ONE groupBy(a, b) shuffle (group count =
    |A|·|B| — the label-statistic contract, same as agreement_kappa);
    margins and entropy sums aggregate the category-sized table. The
    joint counts are materialized once (``localCheckpoint``, the
    time_bucket_gapfill discipline) so the three downstream entropy
    aggregations read the category-sized table instead of each
    re-running the corpus groupBy — the raw input is scanned exactly
    ONCE."""
    staged = _entropy_sums(df, col_a, col_b)
    r6 = lambda c: (  # noqa: E731 — the cross-engine-exact floor round
        F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)
    )
    nd = F.col("_n").cast("double")
    h_a = F.log(nd) - F.col("_sa") / nd
    h_b = F.log(nd) - F.col("_sb") / nd
    h_ab = F.log(nd) - F.col("_sab") / nd
    mi = h_a + h_b - h_ab
    nmi = mi / ((h_a + h_b) / F.lit(2.0))
    return staged.select(
        F.coalesce(F.col("_n"), F.lit(0)).alias("n"),
        F.when(F.col("_n") > 0, r6(h_a)).alias("h_a"),
        F.when(F.col("_n") > 0, r6(h_b)).alias("h_b"),
        F.when(F.col("_n") > 0, r6(h_ab)).alias("h_ab"),
        F.when(F.col("_n") > 0, r6(mi)).alias("mi"),
        F.when(
            (F.col("_n") > 0) & ((h_a + h_b) > 0), r6(nmi)
        ).alias("nmi"),
    )


def _entropy_sums(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Shared entropy-sum staging for :func:`mutual_information` and
    :func:`theils_u`: ONE row (_n, _sab, _sa, _sb) where each _s* is
    Σ c·ln(c) over the joint / a-margin / b-margin exact counts
    (NULL keyed as the collision-proof (is_null, value) pair)."""
    ab = df.select(
        F.col(col_a).cast("string").isNull().alias("_an"),
        F.coalesce(F.col(col_a).cast("string"), F.lit("")).alias("_av"),
        F.col(col_b).cast("string").isNull().alias("_bn"),
        F.coalesce(F.col(col_b).cast("string"), F.lit("")).alias("_bv"),
    )
    joint = ab.groupBy("_an", "_av", "_bn", "_bv").agg(
        F.count(F.lit(1)).alias("_c")
    ).localCheckpoint()
    cd = F.col("_c").cast("double")
    s_ab = joint.agg(
        F.sum("_c").alias("_n"),
        F.sum(cd * F.log(cd)).alias("_sab"),
    )
    s_a = (
        joint.groupBy("_an", "_av")
        .agg(F.sum("_c").alias("_ca"))
        .agg(
            F.sum(
                F.col("_ca").cast("double")
                * F.log(F.col("_ca").cast("double"))
            ).alias("_sa")
        )
    )
    s_b = (
        joint.groupBy("_bn", "_bv")
        .agg(F.sum("_c").alias("_cb"))
        .agg(
            F.sum(
                F.col("_cb").cast("double")
                * F.log(F.col("_cb").cast("double"))
            ).alias("_sb")
        )
    )
    return s_ab.crossJoin(s_a).crossJoin(s_b)


def theils_u(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """One row (n, h_a, h_b, mi, u_a_given_b, u_b_given_a) — Theil's
    uncertainty coefficient, the DIRECTIONAL member of the dependency
    trio (:func:`candidate_keys` exact FD → :func:`mutual_information`
    symmetric strength → :func:`cramers_v` symmetric effect size):
    ``U(a|b) = MI/H(a)`` is the fraction of a's entropy explained by
    b, and it is NOT symmetric — "source determines lang almost
    fully, lang barely narrows source" is exactly what the symmetric
    scores hide. U is NULL for a constant target column (H = 0 —
    nothing to predict); NULL is a category (the profiling
    convention, identical keying to MI).

    Exactness: the MI entropy discipline verbatim — exact int64
    counts, ln-then-round-6 (term-order drift ~1e−16·categories, five
    orders under the threshold), each U one extra fixed-order
    division on the UNROUNDED values.

    Scale shape: identical to :func:`mutual_information` — ONE
    groupBy(a, b) shuffle, category-sized margins, the same
    localCheckpoint of the joint counts (one input scan)."""
    staged = _entropy_sums(df, col_a, col_b)
    r6 = lambda c: (  # noqa: E731 — the cross-engine-exact floor round
        F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)
    )
    nd = F.col("_n").cast("double")
    h_a = F.log(nd) - F.col("_sa") / nd
    h_b = F.log(nd) - F.col("_sb") / nd
    h_ab = F.log(nd) - F.col("_sab") / nd
    mi = h_a + h_b - h_ab
    live = F.col("_n") > 0
    return staged.select(
        F.coalesce(F.col("_n"), F.lit(0)).alias("n"),
        F.when(live, r6(h_a)).alias("h_a"),
        F.when(live, r6(h_b)).alias("h_b"),
        F.when(live, r6(mi)).alias("mi"),
        F.when(live & (h_a > 0), r6(mi / h_a)).alias("u_a_given_b"),
        F.when(live & (h_b > 0), r6(mi / h_b)).alias("u_b_given_a"),
    )


def cramers_v(
    df: DataFrame,
    col_a: str,
    col_b: str,
    max_cells: int = 1_000_000,
) -> DataFrame:
    """One row (n, a_levels, b_levels, chi2, v) — Pearson's chi-square
    of the (col_a × col_b) contingency table and Cramér's V, its
    [0, 1] effect size: the NORMALIZED dependency strength next to
    :func:`mutual_information` ("is this association big, not just
    nonzero" — chi2 alone grows with n, V does not). NULL is a
    category (profiling semantics, the MI convention), keyed by the
    collision-proof (is_null, value) pair. ``v = sqrt(φ²/min(r−1,
    c−1))`` with ``φ² = χ²/n``; V is NULL when either column is
    constant (min(r, c) = 1 — no association measurable).

    Exactness: cell and margin counts are exact int64; each chi2 term
    is ``(o·o)/(ra·cb)`` with the products exact (ra·cb in DECIMAL
    past the int64 bound) and ONE double division in fixed operand
    order; ``χ² = n·Σterms − n`` (the zero-cell-free identity
    Σ(o−e)²/e = Σo²/e − n, so absent cells need never materialize);
    the term sum's order drift is ~1e−16·cells, far under the 6-dp
    floor round (the drift_js / mutual_information precedent). φ² is
    clamped at 0 before the sqrt (FP cancellation on an exactly-
    independent table can land at −1e−17, which would NaN the sqrt).

    Scale shape: ONE groupBy(a, b) shuffle (group count = |A|·|B| —
    the label-statistic contract); margins join the CATEGORY-sized
    table (broadcast-scale sides). ``max_cells`` refuses an ID-like
    column in-path (the count rides the same aggregate that computes
    n — no extra scan; the chi2_drift_many guard discipline). The
    joint counts are materialized once — EAGER at call time, the
    README localCheckpoint contract — so margins and totals read the
    category-sized table (one input scan, not three)."""
    ab = df.select(
        F.col(col_a).cast("string").isNull().alias("_an"),
        F.coalesce(F.col(col_a).cast("string"), F.lit("")).alias("_av"),
        F.col(col_b).cast("string").isNull().alias("_bn"),
        F.coalesce(F.col(col_b).cast("string"), F.lit("")).alias("_bv"),
    )
    joint = ab.groupBy("_an", "_av", "_bn", "_bv").agg(
        F.count(F.lit(1)).alias("_c")
    ).localCheckpoint()
    # fresh key aliases on the margin sides: both derive from `joint`,
    # and same-name refs across a self-derived join resolve to ONE
    # attribute (the trivially-true-predicate trap)
    marg_a = joint.groupBy(
        F.col("_an").alias("_man"), F.col("_av").alias("_mav")
    ).agg(F.sum("_c").alias("_ra"))
    marg_b = joint.groupBy(
        F.col("_bn").alias("_mbn"), F.col("_bv").alias("_mbv")
    ).agg(F.sum("_c").alias("_cb"))
    cells = joint.join(
        F.broadcast(marg_a),
        (F.col("_an") == F.col("_man")) & (F.col("_av") == F.col("_mav")),
    ).join(
        F.broadcast(marg_b),
        (F.col("_bn") == F.col("_mbn")) & (F.col("_bv") == F.col("_mbv")),
    )
    od = F.col("_c").cast("double")
    denom = (
        F.col("_ra").cast("decimal(38,0)") * F.col("_cb")
    ).cast("double")
    agg = cells.agg(
        F.sum("_c").alias("_n"),
        F.count(F.lit(1)).alias("_cells"),
        F.sum((od * od) / denom).alias("_st"),
    )
    lv = (
        marg_a.agg(F.count(F.lit(1)).alias("_al"))
        .crossJoin(marg_b.agg(F.count(F.lit(1)).alias("_bl")))
    )
    r6 = lambda c: (  # noqa: E731 — the cross-engine-exact floor round
        F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)
    )
    cells_ok = F.when(
        F.coalesce(F.col("_cells"), F.lit(0)) <= F.lit(int(max_cells)),
        F.col("_n"),
    ).otherwise(
        F.raise_error(
            F.format_string(
                "cramers_v: contingency table has %s cells (> "
                f"max_cells={int(max_cells)}) — chi-square is a "
                "CATEGORICAL statistic; bucket/band the columns first "
                "or raise max_cells deliberately.",
                F.col("_cells"),
            )
        )
    )
    nd = cells_ok.cast("double")
    phi2 = F.greatest(F.col("_st") - F.lit(1.0), F.lit(0.0))
    chi2 = nd * phi2
    k = F.least(F.col("_al") - 1, F.col("_bl") - 1).cast("double")
    v = F.sqrt(phi2 / k)
    live = F.col("_n") > 0
    return agg.crossJoin(lv).select(
        F.coalesce(cells_ok, F.lit(0)).cast("long").alias("n"),
        F.coalesce(F.col("_al"), F.lit(0)).cast("long").alias("a_levels"),
        F.coalesce(F.col("_bl"), F.lit(0)).cast("long").alias("b_levels"),
        F.when(live, r6(chi2)).alias("chi2"),
        F.when(live & (k > 0), r6(v)).alias("v"),
    )


def concentration(
    df: DataFrame,
    domain_col: str,
    weight_col: str | None = None,
    max_domains: int | None = 1_000_000,
) -> DataFrame:
    """One row (n_domains, total, top1_share, hhi, gini) — how
    CONCENTRATED is the corpus across domains: the diversity
    pre-flight every mixture planner runs before picking weights (a
    Gini of 0.9 across sources means the "diverse web corpus" is one
    crawl wearing twenty hostnames). ``weight_col=None`` counts rows;
    otherwise integer weights (token/char counts) are summed per
    domain.

    - ``top1_share`` — the largest domain's share of the total
    - ``hhi`` — Herfindahl index Σ share² in (0, 1]; 1/n_domains at
      perfect uniformity, 1.0 at monopoly
    - ``gini`` — Σ (2i − n − 1)·w_(i) / (n·W) over weights sorted
      ascending (ties broken by domain for a deterministic i): 0 at
      uniformity, → 1 at monopoly

    Exactness: per-domain weights, the Gini numerator, and the HHI
    numerator Σw² are exact int64 (HHI's Σw² summed in DECIMAL —
    w² overflows int64 past w > 3e9); each statistic is ONE double
    division in fixed operand order + the 6-dp floor round. Empty or
    all-zero input reports n_domains/total with NULL shares (nothing
    to concentrate).

    Scale shape: one domain-keyed aggregation collapses the corpus,
    then every pass runs on the DOMAIN-sized table (one global-order
    window over the collapsed rows). That window is honest only while
    the DOMAIN grain is bounded — a Gini at raw-hostname granularity
    would funnel millions of rows through one partition — so the
    domain count is refused in-path past ``max_domains`` (default
    1e6), riding the count the window pass already computes (no extra
    scan; ``None`` is the documented escape hatch after collapsing the
    grain upstream). A NEGATIVE weight would silently corrupt
    gini/hhi/top1_share (negative per-row weights can cancel inside a
    domain sum), so it is refused loudly in-path, the
    :func:`~..operators.text.sample_pps` discipline. NULL domains
    sort NULLS LAST on the tie-break (``asc_nulls_last``) — DuckDB's
    ASC default — so a weight tie involving the NULL domain ranks
    identically cross-engine."""
    w = (
        F.lit(1).cast("long")
        if weight_col is None
        else F.col(weight_col).cast("long")
    )
    guarded_w = F.when(w >= 0, w).otherwise(
        F.raise_error(
            F.format_string(
                "concentration: negative weight %s — negative per-row "
                "weights cancel inside a domain sum and silently "
                "corrupt gini/hhi/top1_share; filter or clamp "
                "upstream.",
                w,
            )
        )
    )
    per = (
        df.filter(w.isNotNull())
        .groupBy(F.col(domain_col).alias("_d"))
        .agg(F.sum(guarded_w).alias("_w"))
    )
    wall = Window.partitionBy()
    wo = Window.orderBy(F.asc("_w"), F.asc_nulls_last("_d"))
    n_raw = F.count(F.lit(1)).over(wall)
    n_guarded = (
        n_raw
        if max_domains is None
        else F.when(n_raw <= F.lit(int(max_domains)), n_raw).otherwise(
            F.raise_error(
                F.format_string(
                    "concentration: domain count %s exceeds "
                    f"max_domains={int(max_domains)} — a global-order "
                    "window over that many rows funnels them through "
                    "one partition; collapse the domain grain "
                    "upstream (e.g. registrable domain, source "
                    "bucket) or pass max_domains=None to accept the "
                    "single-partition sort.",
                    n_raw,
                )
            )
        )
    )
    staged = per.select(
        "_d",
        "_w",
        F.row_number().over(wo).alias("_i"),
        n_guarded.alias("_n"),
        F.sum("_w").over(wall).alias("_t"),
        F.max("_w").over(wall).alias("_mx"),
    )
    r6 = lambda c: (  # noqa: E731 — the cross-engine-exact floor round
        F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)
    )
    # global agg, not groupBy(_n,_t,_mx): an empty input must still
    # emit the one n=0 report row (groupBy on empty emits none)
    agg = staged.agg(
        F.max("_n").alias("_n"),
        F.max("_t").alias("_t"),
        F.max("_mx").alias("_mx"),
        F.sum(
            (2 * F.col("_i") - F.col("_n") - 1) * F.col("_w")
        ).alias("_gnum"),
        F.sum(
            F.col("_w").cast("decimal(38,0)") * F.col("_w")
        ).alias("_sq"),
    )
    td = F.col("_t").cast("double")
    live = F.col("_t") > 0
    return agg.select(
        F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_domains"),
        F.coalesce(F.col("_t"), F.lit(0)).cast("long").alias("total"),
        F.when(live, r6(F.col("_mx").cast("double") / td)).alias(
            "top1_share"
        ),
        F.when(
            live, r6(F.col("_sq").cast("double") / (td * td))
        ).alias("hhi"),
        F.when(
            live,
            r6(
                F.col("_gnum").cast("double")
                / (F.col("_n").cast("double") * td)
            ),
        ).alias("gini"),
    )


def benford_audit(df: DataFrame, col: str) -> DataFrame:
    """Benford's-law first-digit audit of an INTEGER column: one row
    per digit 1..9 (dense — a missing digit is a finding, not a
    missing row) with (digit, n, observed_p, expected_p), where
    ``expected_p = log10(1 + 1/d)``. Naturally-grown size/count/
    amount columns follow Benford; fabricated, truncated, or
    unit-capped ones don't — the classic fraud/data-corruption screen
    next to :func:`profile_histogram` ("did someone synthesize these
    invoice amounts / token counts"). NULLs and zeros are excluded
    (zero has no first significant digit, the standard convention);
    negatives audit by magnitude.

    The column is cast to int64 and the digit read from its DECIMAL
    STRING — never via log10/pow extraction, whose floor at exact
    powers of ten (log10(1000) → 2.9999...) flips the digit
    cross-engine. Floats must be scaled/floored upstream (a double's
    string form is NOT cross-engine-stable; the integer contract is
    the deterministic one).

    Exactness: digit counts exact int64; observed_p one fixed-order
    division; expected_p one log10 + the 6-dp floor round (the
    ln-under-round-6 discipline).

    Scale shape: one projection + a 9-group map-side count; the
    9-row spine and the total join as broadcast singletons."""
    xl = F.col(col).cast("long")
    d = (
        df.filter(xl.isNotNull() & (xl != 0))
        .select(
            F.substring(F.abs(xl).cast("string"), 1, 1)
            .cast("long")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    tot = d.agg(F.sum("_n").alias("_t"))
    spine = df.sparkSession.range(1, 10).select(
        F.col("id").alias("digit")
    )
    r6 = lambda c: (  # noqa: E731 — the cross-engine-exact floor round
        F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)
    )
    n = F.coalesce(F.col("_n"), F.lit(0))
    return (
        spine.join(F.broadcast(d), "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            n.cast("long").alias("n"),
            F.when(
                F.col("_t") > 0,
                r6(n.cast("double") / F.col("_t").cast("double")),
            ).alias("observed_p"),
            r6(
                F.log10(
                    F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double")
                )
            ).alias("expected_p"),
        )
    )
