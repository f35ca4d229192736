"""Event-funnel analytics over the ``events`` stream table.

Greedy earliest-completion semantics (the standard product-analytics
funnel): a user completes stage i+1 at the FIRST event of that type
strictly after their stage-i completion time. Expressed as a chain of
user-keyed left joins + min aggregations — every stage is one
hash-keyed shuffle on ``user_id``, no window over a user's full
history, no per-user state; stages that never happen stay NULL and all
later stages inherit the NULL through the join condition (monotone).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def funnel(
    events: DataFrame,
    steps: list[str],
    t: Column | None = None,
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """(user_id, t_1..t_n, stage_reached) — one row per user who
    performed the first step; ``t_i`` is the greedy completion time of
    stage i (NULL = funnel abandoned before that stage),
    ``stage_reached`` counts completed stages.

    ``t`` defaults to ``event_seconds`` over the bound events frame
    (surviving both parquet ts encodings the driver has shipped)."""
    if not steps:
        raise ValueError("funnel needs at least one step")
    if t is None:
        from ..sources.tables import event_seconds

        t = event_seconds(events)
    e = events.select(
        F.col(user_col).alias("_u"), t.alias("_t"), F.col(type_col).alias("_ty")
    )
    cur = (
        e.filter(F.col("_ty") == steps[0])
        .groupBy("_u")
        .agg(F.min("_t").alias("t_1"))
    )
    for i, step in enumerate(steps[1:], start=2):
        nxt = e.filter(F.col("_ty") == step).select(
            F.col("_u").alias("_u2"), F.col("_t").alias("_t2")
        )
        prev = f"t_{i - 1}"
        keys = [c for c in cur.columns]
        cur = (
            cur.join(
                nxt,
                (cur["_u"] == nxt["_u2"]) & (nxt["_t2"] > cur[prev]),
                "left",
            )
            .groupBy(*keys)
            .agg(F.min("_t2").alias(f"t_{i}"))
        )
    reached = F.lit(1)
    for i in range(2, len(steps) + 1):
        reached = reached + F.col(f"t_{i}").isNotNull().cast("int")
    return cur.select(
        F.col("_u").alias(user_col),
        *[f"t_{i}" for i in range(1, len(steps) + 1)],
        reached.alias("stage_reached"),
    )


def cohort_retention(
    events: DataFrame,
    t: Column | None = None,
    user_col: str = "user_id",
    bucket_s: int = 604_800,
) -> DataFrame:
    """(cohort_week, week_offset, n_users) — classic cohort retention:
    users bucketed by their FIRST-seen week; for each cohort, how many
    distinct users were active k weeks later. The churn/retention
    triangle every event warehouse reports.

    Scale shape: first-seen is one user-keyed min; activity dedups to
    (user, week) with a map-side-combinable distinct; one user-keyed
    join ties them; the final count is (cohort, offset)-keyed — group
    count bounded by weeks², tiny. No windows over user history."""
    if t is None:
        from ..sources.tables import event_seconds

        t = event_seconds(events)
    e = events.select(
        F.col(user_col).alias("_u"),
        (t / F.lit(bucket_s)).cast("long").alias("_wk"),
    )
    first = e.groupBy("_u").agg(F.min("_wk").alias("cohort_week"))
    activity = e.distinct()
    return (
        activity.join(first, "_u")
        .select(
            "cohort_week",
            (F.col("_wk") - F.col("cohort_week")).alias("week_offset"),
            "_u",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("_u").alias("n_users"))
    )


def value_outliers(
    events: DataFrame,
    k: float = 3.5,
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """(event_type, med, mad, n_events, n_outliers, outlier_frac) — the
    robust per-type data-quality screen: median and MAD (median absolute
    deviation) per event type, and how many values sit more than
    ``k``·MAD from the median (the robust z-score rule — mean/stddev
    break down exactly when the data has the outliers you're hunting).

    Scale shape: two type-keyed aggregations (median, then MAD over the
    joined deviations) and one flagging pass — group count = event-type
    cardinality, tiny; the exact interpolating percentile matches
    DuckDB's quantile_cont bit-for-bit (swap in approx_percentile at
    100 TB, same shape). MAD of 0 (constant stream) flags any deviation
    as outlying only when k·0 < |dev| — i.e. every non-median value."""
    e = events.select(F.col(type_col).alias("_ty"), F.col(value_col).alias("_v"))
    med = e.groupBy("_ty").agg(
        F.percentile("_v", F.lit(0.5)).alias("med")
    )
    dev = e.join(med, "_ty").withColumn("_d", F.abs(F.col("_v") - F.col("med")))
    mad = dev.groupBy("_ty", "med").agg(
        F.percentile("_d", F.lit(0.5)).alias("mad")
    )
    flagged = dev.drop("med").join(mad, "_ty")
    return (
        flagged.groupBy("_ty", "med", "mad")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                (F.col("_d") > F.lit(k) * F.col("mad")).cast("long")
            ).alias("n_outliers"),
        )
        .select(
            F.col("_ty").alias("event_type"),
            F.round("med", 6).alias("med"),
            F.round("mad", 6).alias("mad"),
            "n_events",
            "n_outliers",
            F.round(F.col("n_outliers") / F.col("n_events"), 6).alias(
                "outlier_frac"
            ),
        )
    )


def transition_matrix(
    events: DataFrame,
    t: Column | None = None,
    user_col: str = "user_id",
    type_col: str = "event_type",
    order_tiebreak: str = "event_id",
) -> DataFrame:
    """(from_type, to_type, n, p) — the first-order Markov model of the
    event stream: for each user's time-ordered sequence, count adjacent
    type transitions and row-normalize (the clickstream model behind
    next-action prediction and funnel-drop diagnosis).

    Scale shape: one lag window per user partition (user histories are
    the natural partition; no global ordering), then a tiny
    (from, to)-keyed count — group count = |types|². Ordering ties on
    equal timestamps break by ``order_tiebreak`` so the lag is
    deterministic."""
    if t is None:
        from ..sources.tables import event_seconds

        t = event_seconds(events)
    e = events.select(
        F.col(user_col).alias("_u"),
        t.alias("_t"),
        F.col(order_tiebreak).alias("_id"),
        F.col(type_col).alias("_ty"),
    )
    w = Window.partitionBy("_u").orderBy("_t", "_id")
    pairs = (
        e.withColumn("_prev", F.lag("_ty").over(w))
        .filter(F.col("_prev").isNotNull())
        .groupBy(F.col("_prev").alias("from_type"), F.col("_ty").alias("to_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = pairs.groupBy("from_type").agg(F.sum("n").alias("_tot"))
    return (
        pairs.join(totals, "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            F.round(F.col("n") / F.col("_tot"), 6).alias("p"),
        )
    )


def attribute_conversions(
    events: DataFrame,
    user_col: str,
    ts_sec_col: str,
    type_col: str,
    touch_types: Sequence[str],
    conversion_type: str,
    lookback_s: int,
    model: str = "last",
    max_touches_per_conversion: int | None = 100_000,
) -> DataFrame:
    """(user, conversion_ts, touch_type, touch_ts, credit) — which
    touch gets credit for each conversion: the attribution kernel
    every growth/ads pipeline runs next to the funnel and retention
    tables. For every ``conversion_type`` EVENT (not per distinct
    timestamp — duplicate conversions at the same instant each get
    their own full credit assignment, tracked by an internal
    per-conversion id), the user's ``touch_types`` events inside
    ``(conversion_ts − lookback_s, conversion_ts]`` are credited per
    ``model``:

    - ``last``   — the latest touch gets credit 1.0 (ties on equal
      timestamps break to the lexicographically smallest touch type —
      deterministic, documented)
    - ``first``  — the earliest such touch gets 1.0 (same tie rule)
    - ``linear`` — every touch in the window gets 1/n, where n counts
      THAT conversion's touches (each conversion's credits sum to 1.0
      even when another conversion shares its timestamp)

    Conversions with NO touch in the window emit one row with NULL
    touch columns and credit 1.0 ("unattributed") — dropping them
    silently would overstate every channel's share. N duplicate
    conversions at one timestamp therefore emit N identical credited
    row sets — the per-EVENT grain; callers who want per-instant
    credit should dedupe conversions upstream, deliberately.

    Scale shape: touches join conversions on the USER equi-key with
    the window range as a join-time filter — one user-keyed shuffle,
    never a time-range explosion; credits are a bounded window over
    each conversion's own touch set. The grain is per-user
    conversions × in-window touches, so ONE hot user (a bot with K
    conversions × M touches in the lookback) lands K·M rows on a
    single key: ``max_touches_per_conversion`` bounds M with an
    in-path ``raise_error`` (the count rides the credit window the
    plan already computes — no extra scan, same discipline as
    ks_distance's counted refusal). Pass ``None`` to disable after
    pre-aggregating or salting the hot user upstream. A touch at
    exactly the conversion instant counts; a touch at exactly
    ``conversion_ts − lookback_s`` does not (half-open window,
    documented).

    .. warning:: **Behavior change (r13).**
       ``max_touches_per_conversion`` defaults to ``100_000`` (was
       unbounded): a call whose single hottest conversion carries
       more than 100k in-window touches — previously a silent K·M
       single-key blowup that completed — now fails loudly at action
       time. This is the deliberate hot-key guard default (a real
       user does not produce 100k ad touches in one lookback; a bot
       or a key-collapse bug does). Restore the old behavior
       explicitly with ``max_touches_per_conversion=None``."""
    if model not in ("last", "first", "linear"):
        raise ValueError(f"model must be last|first|linear (got {model!r})")
    if lookback_s <= 0:
        raise ValueError(f"lookback_s must be > 0 (got {lookback_s})")
    touch_types = list(touch_types)
    if not touch_types:
        raise ValueError("touch_types must be non-empty")
    if conversion_type in touch_types:
        raise ValueError(
            f"conversion_type {conversion_type!r} cannot also be a "
            "touch type (a conversion would credit itself)"
        )
    t = F.col(ts_sec_col).cast("long")
    # per-conversion id: duplicates at one (user, ts) are
    # indistinguishable rows, so ANY deterministic numbering among them
    # yields identical output rows — the id only keeps their credit
    # windows apart.
    conv = (
        events.filter(F.col(type_col) == conversion_type)
        .select(F.col(user_col).alias("user"), t.alias("conversion_ts"))
        .withColumn(
            "_cid",
            F.row_number().over(
                Window.partitionBy("user", "conversion_ts").orderBy(
                    "conversion_ts"
                )
            ),
        )
    )
    touch = events.filter(F.col(type_col).isin(touch_types)).select(
        F.col(user_col).alias("user"),
        F.col(type_col).alias("touch_type"),
        t.alias("touch_ts"),
    )
    joined = conv.join(
        touch,
        (conv["user"] == touch["user"])
        & (F.col("touch_ts") <= F.col("conversion_ts"))
        & (F.col("touch_ts") > F.col("conversion_ts") - lookback_s),
        "left",
    ).select(
        conv["user"].alias("user"),
        "conversion_ts",
        "_cid",
        "touch_type",
        "touch_ts",
    )
    w = Window.partitionBy("user", "conversion_ts", "_cid")
    n_touches = F.count("touch_ts").over(w)
    if max_touches_per_conversion is not None:
        n_touches = F.when(
            n_touches <= F.lit(max_touches_per_conversion), n_touches
        ).otherwise(
            F.raise_error(
                F.format_string(
                    "attribute_conversions: %s touches inside one "
                    "conversion window exceed max_touches_per_conversion="
                    + str(max_touches_per_conversion)
                    + " — a hot user materialises conversions x touches "
                    "rows on one key; pre-aggregate or salt that user "
                    "upstream, or pass max_touches_per_conversion=None",
                    n_touches,
                )
            )
        )
    if model == "linear":
        credited = joined.select(
            "user", "conversion_ts", "touch_type", "touch_ts",
            F.when(
                F.col("touch_ts").isNull(), F.lit(1.0)
            ).otherwise(
                F.lit(1.0) / n_touches
            ).alias("credit"),
        )
    else:
        order = (
            [F.desc("touch_ts"), F.asc("touch_type")]
            if model == "last"
            else [F.asc("touch_ts"), F.asc("touch_type")]
        )
        ww = w.orderBy(*order)
        credited = (
            joined.withColumn("_rk", F.row_number().over(ww))
            .withColumn("_n", n_touches)
            .filter(F.col("_rk") == 1)
            .select(
                "user", "conversion_ts", "touch_type", "touch_ts",
                # _n >= 0 is always true; referencing the guarded count
                # keeps the refusal in the plan (a dead column would be
                # pruned — the LSH plane-dot in-path-guard pattern).
                F.when(F.col("_n") >= 0, F.lit(1.0)).alias("credit"),
            )
        )
    return credited.select(
        "user", "conversion_ts", "touch_type", "touch_ts",
        F.round("credit", 6).alias("credit"),
    )


def top_paths(
    events: DataFrame,
    n_steps: int,
    k: int,
    t: Column | None = None,
    user_col: str = "user_id",
    type_col: str = "event_type",
    order_tiebreak: str = "event_id",
) -> DataFrame:
    """(path, n_users, rank) — the k most common opening event paths:
    each user's first ``n_steps`` event types in time order, joined
    with '>' ("view>click>view"), counted across users — the
    clickstream table behind "how do users actually reach checkout"
    and funnel-design diagnosis (the funnel you SHOULD build, where
    :func:`funnel` measures the one you did). Users with fewer than
    ``n_steps`` events contribute their full (shorter) path — cutting
    them would bias the table toward heavy users. Ordering ties on
    equal timestamps break by ``order_tiebreak`` (the
    :func:`transition_matrix` rule), and the top-k ties break by
    (n_users DESC, path ASC) — both deterministic.

    Scale shape: one rank window per user partition (user histories
    are the natural partition) with an EARLY ``rn <= n_steps`` filter
    — at most n_steps rows per user survive to the path aggregation;
    path counting is a hash agg on the path key; the final top-k is
    ``orderBy().limit(k)`` — compiled to TakeOrderedAndProject
    (parallel per-partition partial top-k; distinct paths are
    USER-bounded, so a global row_number window here would funnel
    millions of rows through one partition — the ivf_centroids
    lesson, plan-pinned) — with ``rank`` assigned on the k surviving
    rows only."""
    if n_steps < 1:
        raise ValueError(f"n_steps must be >= 1 (got {n_steps})")
    if k < 1:
        raise ValueError(f"k must be >= 1 (got {k})")
    if t is None:
        from ..sources.tables import event_seconds

        t = event_seconds(events)
    e = events.select(
        F.col(user_col).alias("_u"),
        t.alias("_t"),
        F.col(order_tiebreak).alias("_id"),
        F.col(type_col).alias("_ty"),
    )
    w = Window.partitionBy("_u").orderBy("_t", "_id")
    paths = (
        e.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_steps)
        .groupBy("_u")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("_rn", "_ty"))
                    ),
                    lambda s: s["_ty"],
                ),
                ">",
            ).alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    topk = paths.orderBy(F.desc("n_users"), F.asc("path")).limit(k)
    wr = Window.orderBy(F.desc("n_users"), F.asc("path"))
    return topk.select(
        "path",
        "n_users",
        F.row_number().over(wr).cast("int").alias("rank"),
    )


def conversion_lag(
    events: DataFrame,
    user_col: str,
    ts_sec_col: str,
    type_col: str,
    touch_types: Sequence[str],
    conversion_type: str,
    lookback_s: int,
    max_touches_per_conversion: int | None = 100_000,
) -> DataFrame:
    """Per-channel time-to-convert: one row per attributed channel
    (touch_type, n_conversions, mean_lag_s, p50_lag_s, p90_lag_s) plus
    one NULL-channel row counting UNATTRIBUTED conversions (NULL lag
    stats) — the latency profile next to
    :func:`attribute_conversions`'s credit table ("how long does a
    click take to become a purchase"). The lag of a conversion is
    ``conversion_ts − touch_ts`` of its LAST-touch attribution (ties
    on equal timestamps break to the lexicographically smallest touch
    type — the attribute_conversions rule); p50/p90 are type-1
    (discrete) quantiles — the smallest observed lag whose cumulative
    count reaches ⌈q·n⌉ — so every reported value is an ACTUAL lag.

    Exactness: lags and counts are exact int64; the quantile pick is
    the integer comparison ``cum·b ≥ a·n`` (no ceil, no doubles);
    mean is ONE double division + the 6-dp floor round.

    Scale shape: rides :func:`attribute_conversions` (user-keyed
    equi-join, bounded credit windows, the hot-user counted refusal),
    then collapses conversions to the (channel, lag) GRAIN — at most
    ``lookback_s + 1`` distinct integer lags per channel, so the
    per-channel cumulative window runs over a PARAMETER-bounded table
    (channels · lookback cells), never over per-conversion rows. The
    half-open window bounds every lag to [0, lookback_s)."""
    att = attribute_conversions(
        events,
        user_col,
        ts_sec_col,
        type_col,
        touch_types,
        conversion_type,
        lookback_s,
        model="last",
        max_touches_per_conversion=max_touches_per_conversion,
    )
    lag = F.col("conversion_ts") - F.col("touch_ts")
    grain = (
        att.select(
            F.col("touch_type"), lag.cast("long").alias("_lag")
        )
        .groupBy("touch_type", "_lag")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    wch = (
        Window.partitionBy("touch_type")
        .orderBy(F.asc_nulls_last("_lag"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall_ch = Window.partitionBy("touch_type")
    staged = grain.select(
        "touch_type",
        "_lag",
        "_c",
        F.sum("_c").over(wch).alias("_cum"),
        F.sum("_c").over(wall_ch).alias("_n"),
        F.sum(F.col("_c") * F.col("_lag")).over(wall_ch).alias("_s"),
    )
    r6 = lambda c: (  # noqa: E731 — the cross-engine-exact floor round
        F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)
    )
    per = staged.groupBy("touch_type").agg(
        F.max("_n").cast("long").alias("n_conversions"),
        F.max("_s").alias("_sum"),
        F.min(
            F.when(F.col("_cum") * 2 >= F.col("_n"), F.col("_lag"))
        ).alias("p50_lag_s"),
        F.min(
            F.when(F.col("_cum") * 10 >= F.col("_n") * 9, F.col("_lag"))
        ).alias("p90_lag_s"),
    )
    return per.select(
        "touch_type",
        "n_conversions",
        F.when(
            F.col("_sum").isNotNull(),
            r6(
                F.col("_sum").cast("double")
                / F.col("n_conversions").cast("double")
            ),
        ).alias("mean_lag_s"),
        F.col("p50_lag_s").cast("long").alias("p50_lag_s"),
        F.col("p90_lag_s").cast("long").alias("p90_lag_s"),
    )


def inter_event_profile(
    events: DataFrame,
    user_col: str,
    ts_sec_col: str,
    order_tiebreak: str = "event_id",
    max_events_per_user: int | None = 1_000_000,
) -> DataFrame:
    """Per-user inter-event timing profile: (user, n_events, n_gaps,
    mean_gap_s, var_gap_s, burstiness) — the BOT SCREEN for
    user-generated training data: a human's gaps are bursty
    (B → 1), a cron job's are metronomic (B → −1), where
    ``burstiness = (σ − μ)/(σ + μ)`` over the user's consecutive-event
    gaps (Goh & Barabási 2008). Events order by (ts, tiebreak) so
    equal timestamps are deterministic; a user with < 2 events
    reports n_gaps = 0 with NULL stats; duplicate-timestamp-only
    users (all gaps 0 ⇒ σ + μ = 0) report burstiness NULL rather
    than 0/0.

    Exactness: gap sums Σd are exact int64 and Σd² is summed in
    DECIMAL (a 292-year gap squares past int64); the population
    variance is the DECIMAL-exact numerator ``n_g·Σd² − (Σd)²`` over
    ``n_g²`` in ONE fixed-order double division, σ the IEEE sqrt, and
    mean/burstiness one fixed-order division each + the 6-dp floor
    round — the SQL oracle reproduces every double bit-for-bit.

    Scale shape: one lag window per USER partition (the
    transition_matrix posture — user histories are the natural
    partition, never a global sort) feeding one user-keyed
    aggregation. A single hot user funnels its whole history through
    one partition, so ``max_events_per_user`` refuses in-path via
    raise_error riding a count over the SAME window partition (no
    extra scan; ``None`` after salting/sharding the bot upstream)."""
    t = F.col(ts_sec_col).cast("long")
    e = events.filter(t.isNotNull()).select(
        F.col(user_col).alias("_u"),
        t.alias("_t"),
        F.col(order_tiebreak).alias("_id"),
    )
    w = Window.partitionBy("_u").orderBy("_t", "_id")
    wu = Window.partitionBy("_u")
    n_user = F.count(F.lit(1)).over(wu)
    n_guarded = (
        n_user
        if max_events_per_user is None
        else F.when(
            n_user <= F.lit(int(max_events_per_user)), n_user
        ).otherwise(
            F.raise_error(
                F.format_string(
                    "inter_event_profile: user %s has %s events (> "
                    f"max_events_per_user={int(max_events_per_user)})"
                    " — one user's history sorts in ONE partition; "
                    "shard the bot upstream or raise the cap "
                    "deliberately.",
                    F.col("_u").cast("string"),
                    n_user,
                )
            )
        )
    )
    gaps = e.select(
        "_u",
        n_guarded.alias("_n"),
        (F.col("_t") - F.lag("_t").over(w)).alias("_d"),
    )
    agg = gaps.groupBy("_u").agg(
        F.max("_n").alias("_n_events"),
        F.count("_d").alias("_ng"),
        F.sum("_d").alias("_sd"),
        F.sum(F.col("_d").cast("decimal(38,0)") * F.col("_d")).alias(
            "_sd2"
        ),
    )
    r6 = lambda c: (  # noqa: E731 — the cross-engine-exact floor round
        F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)
    )
    ngd = F.col("_ng").cast("double")
    mean = F.col("_sd").cast("double") / ngd
    # population variance: (n_g·Σd² − (Σd)²) exact in DECIMAL, ONE division
    var_num = (
        F.col("_sd2") * F.col("_ng")
        - F.col("_sd").cast("decimal(38,0)") * F.col("_sd")
    )
    var = var_num.cast("double") / (ngd * ngd)
    sigma = F.sqrt(var)
    b = (sigma - mean) / (sigma + mean)
    live = F.col("_ng") > 0
    return agg.select(
        F.col("_u").alias(user_col),
        F.col("_n_events").cast("long").alias("n_events"),
        F.col("_ng").cast("long").alias("n_gaps"),
        F.when(live, r6(mean)).alias("mean_gap_s"),
        F.when(live, r6(var)).alias("var_gap_s"),
        F.when(live & ((sigma + mean) > 0), r6(b)).alias("burstiness"),
    )


def survival_curve(
    events: DataFrame,
    user_col: str,
    ts_sec_col: str,
    bucket_s: int,
    censor_margin_s: int = 0,
    max_buckets: int | None = 100_000,
) -> DataFrame:
    """Kaplan–Meier user-survival curve with watermark censoring: one
    row per occupied lifetime bucket — (bucket, t_lo_s, n_risk,
    n_deaths, n_censored, survival) — the churn table behind "what
    fraction of users are still active after k weeks". A user's
    lifetime is ``last_ts − first_ts``; users whose last event lies
    within ``censor_margin_s`` of the stream's watermark (the global
    max last_ts) are CENSORED — still alive for all we know — and
    enter every risk set up to their observed lifetime without ever
    counting as a death (treating them as churned is the classic
    retention-table bias; with margin 0 only the watermark user(s)
    are censored). ``survival`` is the KM product-limit estimate
    S(t) = Π_{i ≤ t} (1 − d_i/n_i) over death buckets, with the
    standard same-time convention (censored users at bucket t are at
    risk for bucket t's deaths).

    Exactness: lifetimes, buckets, death/censor counts and risk sets
    are exact int64 (suffix cumulative sums); S is
    exp(Σ ln(1 − d_i/n_i)) with each ratio ONE exact-int division —
    the ln/exp pair rides the repo's ln-under-round-6 discipline
    (term drift ~1e−16·buckets, five orders under the 5e−7 floor-
    round threshold). A bucket where the whole risk set dies sets
    S = 0.0 EXACTLY from that bucket on (never ln(0) — Spark NULLs
    it, DuckDB −infs it; the zero is branched, not computed).

    Scale shape: one user-keyed min/max rollup collapses the stream;
    everything after runs on the BUCKET-grain table (two ordered
    windows over it — honest global windows over a bounded table,
    refused in-path past ``max_buckets`` riding the count the window
    pass already computes: a milliseconds-wide ``bucket_s`` mistake
    dies loud)."""
    if bucket_s < 1:
        raise ValueError(f"bucket_s must be >= 1 (got {bucket_s})")
    t = F.col(ts_sec_col).cast("long")
    per = (
        events.filter(t.isNotNull())
        .groupBy(F.col(user_col).alias("_u"))
        .agg(F.min(t).alias("_first"), F.max(t).alias("_last"))
    )
    wm = per.agg(F.max("_last").alias("_wm"))
    lab = per.crossJoin(F.broadcast(wm)).select(
        F.expr(f"(_last - _first) div {int(bucket_s)}").alias("_b"),
        (
            F.col("_last") + F.lit(int(censor_margin_s)) >= F.col("_wm")
        ).alias("_cens"),
    )
    grain = lab.groupBy("_b").agg(
        F.sum((~F.col("_cens")).cast("long")).alias("_d"),
        F.sum(F.col("_cens").cast("long")).alias("_c"),
    )
    wall = Window.partitionBy()
    w_suffix = (
        Window.orderBy(F.desc("_b"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n_b = F.count(F.lit(1)).over(wall)
    n_guarded = (
        n_b
        if max_buckets is None
        else F.when(n_b <= F.lit(int(max_buckets)), n_b).otherwise(
            F.raise_error(
                F.format_string(
                    "survival_curve: %s occupied lifetime buckets (> "
                    f"max_buckets={int(max_buckets)}) — the KM passes "
                    "run ordered windows over the bucket grain; widen "
                    "bucket_s or raise the cap deliberately.",
                    n_b,
                )
            )
        )
    )
    staged = grain.select(
        "_b",
        "_d",
        "_c",
        F.sum(F.col("_d") + F.col("_c")).over(w_suffix).alias("_n"),
        n_guarded.alias("_nb"),
    )
    w_asc = (
        Window.orderBy(F.asc("_b"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dead_all = F.col("_d") == F.col("_n")
    ln_term = F.when(
        (F.col("_d") > 0) & ~dead_all,
        F.log(
            F.lit(1.0)
            - F.col("_d").cast("double") / F.col("_n").cast("double")
        ),
    ).otherwise(F.lit(0.0))
    zero_from = F.min(F.when(dead_all, F.col("_b"))).over(wall)
    r6 = lambda c: (  # noqa: E731 — the cross-engine-exact floor round
        F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)
    )
    surv = F.when(
        zero_from.isNotNull() & (F.col("_b") >= zero_from), F.lit(0.0)
    ).otherwise(r6(F.exp(F.sum(ln_term).over(w_asc))))
    return staged.select(
        F.col("_b").cast("long").alias("bucket"),
        (F.col("_b") * F.lit(int(bucket_s))).cast("long").alias(
            "t_lo_s"
        ),
        F.col("_n").cast("long").alias("n_risk"),
        F.col("_d").cast("long").alias("n_deaths"),
        F.col("_c").cast("long").alias("n_censored"),
        surv.alias("survival"),
        # the guard column must stay in-path: reading it here keeps
        # the refusal alive after column pruning
        F.col("_nb").cast("long").alias("n_buckets"),
    )
