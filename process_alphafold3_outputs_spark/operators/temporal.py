"""Time-series resampling — the hypertable-rollup family (TimescaleDB
``time_bucket_gapfill``/``locf``/``interpolate``, kdb ``xbar``) that a
metrics/monitoring consumer of the events stream needs and that plain
``GROUP BY window()`` cannot give (a GROUP BY emits only buckets that
HAVE rows; a monitoring chart, a rate calculation, or a downstream
as-of consumer needs the empty buckets to exist, filled by an explicit
policy).

Two operators:

- :func:`time_bucket_gapfill` — per-key dense bucket spine (every
  bucket between each key's first and last observation) with the
  bucket aggregate and explicit fill policies: ``locf`` (last
  observation carried forward), ``linear`` (interpolation between the
  neighboring observed buckets), ``zero``, ``none`` (NULL, with the
  ``n`` column marking gaps as 0-count).
- :func:`ohlc_downsample` — open/high/low/close + count per bucket
  (the canonical numeric downsample), open/close tie-broken by an
  explicit sequence column so the result is deterministic under
  duplicate timestamps on EVERY engine.

Scale posture (100 TB events): the raw stream collapses to
(key, bucket) grain in ONE hash aggregation with map-side combine
before anything else happens — everything downstream (spine build,
fill windows) runs on the bucket-bounded table, never on raw events.
The spine explode is linear in emitted buckets; a counted guard
refuses loudly when ``(span / width)`` exceeds ``max_buckets`` for any
key (the ks_distance ``max_values`` / privacy ``max_support``
discipline: a silent 10^9-row explode is a bug, not a feature), and
the fill windows partition by key — no global sort anywhere.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_FILLS = ("none", "zero", "locf", "linear")
_AGGS = ("avg", "sum", "min", "max", "count")


def _r6(c: Column) -> Column:
    """Cross-engine-EXACT 6-dp round: floor(x*1e6 + 0.5)/1e6 is the
    same IEEE op sequence on every engine. Engines' native round()
    disagree on half-boundary doubles (Spark routes through BigDecimal
    of the shortest decimal repr; DuckDB multiplies) — a real
    event_rate value, 0.21056249999999999, rounded .562 on Spark and
    .563 on DuckDB. Semantics: half-up toward +inf (not away from
    zero); |x| must stay below ~9e12 (long floor range), which every
    rate/score here does."""
    return F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)


def _bucket(ts_sec: Column, width: int) -> Column:
    # floor-div then re-scale: exact integer math (never double floor)
    return (ts_sec - (((ts_sec % width) + width) % width)).cast("long")


def _agg_expr(agg: str, value_col: str) -> Column:
    v = F.col(value_col).cast("double")
    if agg == "count":
        return F.count(v).cast("double")
    return getattr(F, agg)(v)


def time_bucket_gapfill(
    df: DataFrame,
    keys: Sequence[str],
    ts_sec_col: str,
    value_col: str,
    width: int,
    agg: str = "avg",
    fill: str = "locf",
    max_buckets: int = 1_000_000,
) -> DataFrame:
    """(keys..., bucket, n, value) — ``agg`` of ``value_col`` per
    ``width``-second bucket, with EVERY bucket between each key's first
    and last observation present. ``n`` is the observation count (0 on
    gap rows); ``value`` on a gap row follows ``fill``:

    - ``none``   — NULL (the honest raw form)
    - ``zero``   — 0.0 (rate/sum semantics)
    - ``locf``   — last observed bucket's value carried forward
    - ``linear`` — linear interpolation between the previous and next
      observed buckets (both always exist on an interior gap, because
      the spine is bounded by each key's own first/last observation)

    ``ts_sec_col`` must be epoch seconds (BIGINT) — the engine-portable
    time representation used across the event suite. Values round to
    6 dp so filled series hash identically cross-engine.

    One aggregation over the raw stream, then bucket-bounded work only.
    Refuses loudly if any key's span would emit more than
    ``max_buckets`` buckets — re-bucket coarser rather than explode.

    The bucket-bounded aggregate is materialized once
    (``localCheckpoint``, eager at call time) so the guard, the spine,
    and the fill all read it — the raw stream is scanned exactly ONCE
    (a lazy plan would rescan it for the guard's counting job: 2 scans
    of 100 TB vs 1 plus a bounded cache).
    """
    keys = list(keys)
    if width <= 0:
        raise ValueError(f"width must be positive seconds (got {width})")
    if fill not in _FILLS:
        raise ValueError(f"fill must be one of {_FILLS} (got {fill!r})")
    if agg not in _AGGS:
        raise ValueError(f"agg must be one of {_AGGS} (got {agg!r})")

    b = df.select(
        *keys,
        _bucket(F.col(ts_sec_col).cast("long"), width).alias("bucket"),
        F.col(value_col),
    )
    bucketed = b.groupBy(*keys, "bucket").agg(
        F.count(F.col(value_col).cast("double")).cast("long").alias("n"),
        _r6(_agg_expr(agg, value_col)).alias("_v"),
    )
    # materialize the bucket-bounded table ONCE: guard + spine + fill
    # all read it, so the raw stream is scanned exactly once
    bucketed = bucketed.localCheckpoint()

    spans = bucketed.groupBy(*keys).agg(
        F.min("bucket").alias("_lo"), F.max("bucket").alias("_hi")
    )
    # Counted guard (the max_values / max_support discipline): the
    # explode size is knowable from the spans table, which is
    # key-bounded — one tiny job now beats an unbounded explode later.
    worst = spans.agg(
        F.max(((F.col("_hi") - F.col("_lo")) / width + 1).cast("long"))
    ).first()[0]
    if worst is not None and worst > max_buckets:
        raise ValueError(
            f"gapfill would emit {worst} buckets for the widest key "
            f"(max_buckets={max_buckets}); widen `width` or raise the "
            f"guard explicitly"
        )
    spine = spans.select(
        *keys,
        F.explode(
            F.sequence(F.col("_lo"), F.col("_hi"), F.lit(int(width)))
        ).alias("bucket"),
    )
    j = spine.join(bucketed, [*keys, "bucket"], "left")
    filled = j.select(
        *keys,
        "bucket",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
        F.col("_v"),
    )

    if fill == "none":
        value = F.col("_v")
    elif fill == "zero":
        value = F.coalesce(F.col("_v"), F.lit(0.0))
    elif fill == "locf":
        w_prev = (
            Window.partitionBy(*keys)
            .orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        value = F.last("_v", ignorenulls=True).over(w_prev)
    else:  # linear
        w_prev = (
            Window.partitionBy(*keys)
            .orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        w_next = (
            Window.partitionBy(*keys)
            .orderBy("bucket")
            .rowsBetween(0, Window.unboundedFollowing)
        )
        obs_bucket = F.when(F.col("_v").isNotNull(), F.col("bucket"))
        pv = F.last("_v", ignorenulls=True).over(w_prev)
        pb = F.last(obs_bucket, ignorenulls=True).over(w_prev)
        nv = F.first("_v", ignorenulls=True).over(w_next)
        nb = F.first(obs_bucket, ignorenulls=True).over(w_next)
        value = F.when(F.col("_v").isNotNull(), F.col("_v")).otherwise(
            F.when(
                pv.isNotNull() & nv.isNotNull(),
                pv + (nv - pv) * (F.col("bucket") - pb) / (nb - pb),
            )
        )

    return filled.select(
        *keys,
        "bucket",
        "n",
        _r6(value).alias("value"),
    )


def ohlc_downsample(
    df: DataFrame,
    keys: Sequence[str],
    ts_sec_col: str,
    value_col: str,
    width: int,
    seq_col: str | None = None,
) -> DataFrame:
    """(keys..., bucket, n, open, high, low, close) per ``width``-second
    bucket — ONE hash aggregation with map-side combine (min_by/max_by
    on the (ts, seq) order key; never a window over raw events).

    ``seq_col`` breaks ties between observations sharing a timestamp
    (pass the event id); without it, duplicate-timestamp open/close is
    engine-dependent — so the default refuses to guess and uses the
    value itself as the tiebreak, which is at least deterministic.
    Values round to 6 dp (house hash-stability rule).
    """
    keys = list(keys)
    if width <= 0:
        raise ValueError(f"width must be positive seconds (got {width})")
    ts = F.col(ts_sec_col).cast("long")
    tie = F.col(seq_col) if seq_col is not None else F.col(value_col)
    order = F.struct(ts.alias("t"), tie.alias("s"))
    v = F.col(value_col).cast("double")
    return (
        df.select(
            *keys,
            _bucket(ts, width).alias("bucket"),
            order.alias("_o"),
            v.alias("_v"),
        )
        .groupBy(*keys, "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            _r6(F.min_by("_v", "_o")).alias("open"),
            _r6(F.max("_v")).alias("high"),
            _r6(F.min("_v")).alias("low"),
            _r6(F.max_by("_v", "_o")).alias("close"),
        )
    )


def ohlc_components(
    df: DataFrame,
    keys: Sequence[str],
    ts_sec_col: str,
    value_col: str,
    width: int,
    seq_col: str,
) -> DataFrame:
    """Mergeable OHLC partials per (keys, bucket): ``n`` plus each
    extreme WITH its (ts, seq) order key — the carry that makes OHLC a
    true mergeable aggregate (open/close of a union = min/max-keyed
    pick across partials; high/low/n fold by max/min/sum). This is the
    shipment/stream form of :func:`ohlc_downsample`: components from
    any split of the data merge (:func:`merge_ohlc`) to EXACTLY the
    one-shot bars (:func:`ohlc_from_components` parity is
    pytest-pinned), so a streaming state table can hold one bounded
    row per bucket and stay exact across epochs and restarts."""
    keys = list(keys)
    if width <= 0:
        raise ValueError(f"width must be positive seconds (got {width})")
    ts = F.col(ts_sec_col).cast("long")
    v = F.col(value_col).cast("double")
    row = F.struct(
        ts.alias("t"), F.col(seq_col).cast("long").alias("s"), v.alias("v")
    )
    return (
        df.select(*keys, _bucket(ts, width).alias("bucket"), row.alias("_r"))
        .groupBy(*keys, "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("_r").getField("t").alias("open_t"),
            F.min("_r").getField("s").alias("open_s"),
            F.min("_r").getField("v").alias("open"),
            F.max(F.col("_r").getField("v")).alias("high"),
            F.min(F.col("_r").getField("v")).alias("low"),
            F.max("_r").getField("t").alias("close_t"),
            F.max("_r").getField("s").alias("close_s"),
            F.max("_r").getField("v").alias("close"),
        )
    )


def merge_ohlc(a: DataFrame, b: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Fold two OHLC component tables (same grain) into one — the
    state-merge kernel: n adds, high/low fold by max/min, open/close
    re-pick by their carried (t, seq) order keys. Exact and
    split-invariant (hash-agg over bucket-bounded rows)."""
    keys = list(keys)
    u = a.unionByName(b)
    op = F.struct("open_t", "open_s", "open")
    cl = F.struct("close_t", "close_s", "close")
    return u.groupBy(*keys, "bucket").agg(
        F.sum("n").cast("long").alias("n"),
        F.min(op).getField("open_t").alias("open_t"),
        F.min(op).getField("open_s").alias("open_s"),
        F.min(op).getField("open").alias("open"),
        F.max("high").alias("high"),
        F.min("low").alias("low"),
        F.max(cl).getField("close_t").alias("close_t"),
        F.max(cl).getField("close_s").alias("close_s"),
        F.max(cl).getField("close").alias("close"),
    )


def ohlc_from_components(comp: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Render a component table as the public bar schema — identical
    columns (and 6-dp rounding) to :func:`ohlc_downsample`."""
    keys = list(keys)
    return comp.select(
        *keys,
        "bucket",
        "n",
        _r6(F.col("open")).alias("open"),
        _r6(F.col("high")).alias("high"),
        _r6(F.col("low")).alias("low"),
        _r6(F.col("close")).alias("close"),
    )


def rate_of_change(
    df: DataFrame,
    keys: Sequence[str],
    ts_sec_col: str,
    value_col: str,
    seq_col: str,
    counter: bool = False,
    keep: Sequence[str] = (),
) -> DataFrame:
    """(keys..., t, value, rate) — per-second first derivative between
    consecutive observations of each series (ONE key-partitioned lag
    window ordered by (ts, seq) — the explicit tiebreak keeps duplicate
    timestamps deterministic on every engine; zero-dt pairs yield NULL
    rather than ±inf). ``counter=True`` applies Prometheus counter
    semantics: a value DROP means the counter reset, so the rate is
    ``value / dt`` (the post-reset accumulation), never negative —
    without it (gauge semantics) negative rates pass through. First
    observation per key: NULL rate. Rounds to 6 dp."""
    keys = list(keys)
    w = Window.partitionBy(*keys).orderBy(
        F.col(ts_sec_col).cast("long"), F.col(seq_col)
    )
    t = F.col(ts_sec_col).cast("long")
    v = F.col(value_col).cast("double")
    pt = F.lag(t).over(w)
    pv = F.lag(v).over(w)
    dt = (t - pt).cast("double")
    delta = v - pv
    raw = F.when(dt > 0, delta / dt)
    if counter:
        raw = F.when(dt > 0, F.when(delta < 0, v / dt).otherwise(delta / dt))
    return df.select(
        *keys,
        t.alias("t"),
        v.alias("value"),
        _r6(raw).alias("rate"),
        *[F.col(c) for c in keep],
    )


def rolling_zscore(
    df: DataFrame,
    keys: Sequence[str],
    ts_sec_col: str,
    value_col: str,
    seq_col: str,
    window: int = 24,
    min_obs: int = 6,
) -> DataFrame:
    """(keys..., t, value, mean_prev, z) — each observation scored
    against the PRIOR ``window`` observations of its own series
    (rows between -window and -1: the current value never contaminates
    its own baseline — the level-shift detector's contract). NULL when
    fewer than ``min_obs`` priors exist or their variance is 0.
    Variance from windowed sum/sum-of-squares (n·Σx² − (Σx)² form kept
    in one expression; 6-dp rounds defuse summation-order ulp drift
    cross-engine). One key-partitioned window — the time-axis
    complement of the two-snapshot statistics in ``operators.drift``.
    """
    keys = list(keys)
    frame = (
        Window.partitionBy(*keys)
        .orderBy(F.col(ts_sec_col).cast("long"), F.col(seq_col))
        .rowsBetween(-window, -1)
    )
    v = F.col(value_col).cast("double")
    n = F.count(v).over(frame).cast("double")
    s = F.sum(v).over(frame)
    s2 = F.sum(v * v).over(frame)
    mean = s / n
    var = (s2 - s * s / n) / (n - 1)
    # guard on var > 0 (not sqrt(var) > 0): sqrt of a tiny negative
    # variance is NaN on Spark and NULL on DuckDB — comparing the
    # variance itself keeps both engines on the same branch
    std = F.sqrt(var)
    z = F.when(
        (n >= F.lit(float(min_obs))) & (var > 0), (v - mean) / std
    )
    return df.select(
        *keys,
        F.col(ts_sec_col).cast("long").alias("t"),
        v.alias("value"),
        _r6(F.when(n >= F.lit(float(min_obs)), mean)).alias(
            "mean_prev"
        ),
        _r6(z).alias("z"),
    )


def seasonal_baseline(
    df: DataFrame,
    keys: Sequence[str],
    ts_sec_col: str,
    value_col: str,
    period: int = 86400,
    n_buckets: int = 24,
) -> DataFrame:
    """(keys..., phase, baseline, n) — the per-series seasonal profile:
    mean of ``value_col`` per phase-of-period bucket (hour-of-day under
    the defaults). ONE hash aggregation to a (keys × n_buckets)-bounded
    table; join it back to score live values against "normal for this
    hour" (:func:`seasonal_deviations` does exactly that). Rounds 6 dp.
    """
    keys = list(keys)
    if period <= 0 or n_buckets <= 0 or period % n_buckets != 0:
        raise ValueError(
            f"period must be a positive multiple of n_buckets (got "
            f"period={period}, n_buckets={n_buckets})"
        )
    t = F.col(ts_sec_col).cast("long")
    phase = (((t % period) + period) % period) / F.lit(
        period // n_buckets
    )
    return (
        df.select(
            *keys,
            phase.cast("long").alias("phase"),
            F.col(value_col).cast("double").alias("_v"),
        )
        .groupBy(*keys, "phase")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            _r6(F.avg("_v")).alias("baseline"),
        )
    )


def seasonal_deviations(
    df: DataFrame,
    keys: Sequence[str],
    ts_sec_col: str,
    value_col: str,
    period: int = 86400,
    n_buckets: int = 24,
) -> DataFrame:
    """(keys..., t, value, phase, baseline, deviation) — every
    observation against its series' own phase-of-period mean ("is this
    normal for 3am"): the baseline table is (keys × n_buckets)-bounded,
    so the join back to the stream broadcasts under AQE at any corpus
    size. Deviation = value − baseline, rounded 6 dp."""
    keys = list(keys)
    base = seasonal_baseline(
        df, keys, ts_sec_col, value_col, period, n_buckets
    )
    t = F.col(ts_sec_col).cast("long")
    phase = ((((t % period) + period) % period) / F.lit(
        period // n_buckets
    )).cast("long")
    scored = df.select(
        *keys,
        t.alias("t"),
        F.col(value_col).cast("double").alias("value"),
        phase.alias("phase"),
    )
    return scored.join(base.drop("n"), [*keys, "phase"], "left").select(
        *keys,
        "t",
        "value",
        "phase",
        "baseline",
        _r6(F.col("value") - F.col("baseline")).alias("deviation"),
    )


def cross_correlation(
    a: DataFrame,
    b: DataFrame,
    keys: Sequence[str],
    width: int,
    max_lag: int,
) -> DataFrame:
    """(keys..., lag, n, corr) — Pearson correlation between series
    ``a`` and series ``b`` shifted by ``lag`` buckets, for every lag in
    [-max_lag, +max_lag]: the lead-lag diagnostic ("errors rise N
    hours before purchases drop"). A positive-lag peak means ``a``
    LEADS ``b`` by that many buckets.

    Inputs are bucket-grain series (keys..., bucket, value) — the
    output of a bucket aggregation or :func:`time_bucket_gapfill` —
    so the lag fan-out (2·max_lag+1 copies) and the shifted join touch
    bucket-BOUNDED tables only, never raw events. corr uses the same
    five-sums expression tree as ``profiling.correlation_matrix``
    (pairs where either side lacks the bucket are excluded — n per lag
    is part of the report), rounded by the cross-engine-exact floor
    form. NULL corr when a side is constant or n < 2."""
    keys = list(keys)
    if width <= 0:
        raise ValueError(f"width must be positive seconds (got {width})")
    if max_lag < 0:
        raise ValueError(f"max_lag must be >= 0 (got {max_lag})")
    fan = a.select(
        *keys,
        F.col("bucket"),
        F.col("value").cast("double").alias("_va"),
        F.explode(
            F.sequence(F.lit(-max_lag), F.lit(max_lag))
        ).alias("lag"),
    ).withColumn("_tb", F.col("bucket") + F.col("lag") * width)
    bb = b.select(
        *keys,
        F.col("bucket").alias("_tb"),
        F.col("value").cast("double").alias("_vb"),
    )
    j = fan.join(bb, [*keys, "_tb"], "inner").filter(
        F.col("_va").isNotNull() & F.col("_vb").isNotNull()
    )
    agg = j.groupBy(*keys, "lag").agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum("_va").alias("_sa"),
        F.sum("_vb").alias("_sb"),
        F.sum(F.col("_va") * F.col("_vb")).alias("_sab"),
        F.sum(F.col("_va") * F.col("_va")).alias("_saa"),
        F.sum(F.col("_vb") * F.col("_vb")).alias("_sbb"),
    )
    n = F.col("_n")
    va = n * F.col("_saa") - F.col("_sa") * F.col("_sa")
    vb = n * F.col("_sbb") - F.col("_sb") * F.col("_sb")
    corr = F.when(
        (n >= 2) & (va > 0) & (vb > 0),
        (n * F.col("_sab") - F.col("_sa") * F.col("_sb"))
        / F.sqrt(va)
        / F.sqrt(vb),
    )
    return agg.select(
        *keys,
        F.col("lag").cast("int").alias("lag"),
        n.cast("long").alias("n"),
        _r6(corr).alias("corr"),
    )


def sliding_distinct_estimate(
    df: DataFrame,
    keys: Sequence[str],
    ts_sec_col: str,
    value_col: str,
    width: int,
    trailing: int,
    m: int = 64,
    seed: str = "hll-v1",
) -> DataFrame:
    """(keys..., bucket, raw_est, n_empty) — HLL distinct estimate of
    ``value_col`` over the TRAILING ``trailing`` buckets ending at each
    bucket ("distinct users per trailing 7 days, daily"): the
    continuous-aggregate rollup that is unpayable exactly at 100 TB
    (every row would count toward ``trailing`` overlapping windows) but
    costs one register table here. Construction: the deterministic-md5
    register table per (key, bucket) (``sketches._hll_filled_registers``
    — the oracle-checkable HLL this engine already ships), then ONE
    range-frame window per (key, register) max-merges registers across
    the trailing time range — HLL's defining mergeability, applied on
    the time axis. ``rangeBetween`` on bucket VALUES (not rows) keeps
    empty buckets from silently widening the window. Register rows
    crossing the shuffle: observed-buckets x m per key — never raw
    rows. Same integer harmonic sum as ``hll_deterministic``
    (bit-exact in ANSI SQL); ``n_empty`` ships for consumer-side
    linear-counting correction."""
    from .sketches import _hll_filled_registers

    keys = list(keys)
    if width <= 0 or trailing < 1:
        raise ValueError(
            f"width must be positive and trailing >= 1 (got width="
            f"{width}, trailing={trailing})"
        )
    bucketed = df.select(
        F.struct(
            *[F.col(k) for k in keys],
            _bucket(F.col(ts_sec_col).cast("long"), width).alias("bucket"),
        ).alias("_g"),
        F.col(value_col),
    )
    filled, max_rho, scale = _hll_filled_registers(
        bucketed, "_g", value_col, m, seed
    )
    flat = filled.select(
        *[F.col("g").getField(k).alias(k) for k in keys],
        F.col("g").getField("bucket").alias("bucket"),
        "reg",
        "M",
    )
    w = (
        Window.partitionBy(*keys, "reg")
        .orderBy("bucket")
        .rangeBetween(-(trailing - 1) * width, 0)
    )
    merged = flat.withColumn("_Mw", F.max("M").over(w))
    z = merged.groupBy(*keys, "bucket").agg(
        F.sum(F.expr(f"shiftleft(1L, {max_rho} - _Mw)")).alias("_z"),
        F.sum(F.when(F.col("_Mw") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_empty"),
    )
    return z.select(
        *keys,
        "bucket",
        F.round(F.lit(scale) / F.col("_z"), 3).alias("raw_est"),
        "n_empty",
    )


def lttb_downsample(
    df: DataFrame,
    keys: Sequence[str],
    ts_sec_col: str,
    value_col: str,
    n_out: int,
) -> DataFrame:
    """(keys..., t, value) — ``n_out`` visually representative points
    per key from an arbitrarily dense series: the
    largest-triangle-three-buckets downsampler (Steinarsson 2013, the
    standard chart decimator) in its PARALLEL fixed-anchor form. First
    and last points are always kept; the interior splits into
    ``n_out − 2`` equal-COUNT rank buckets and each bucket keeps the
    point with the largest triangle area against its NEIGHBOR BUCKET
    AVERAGES (ties break on earliest t, then value — deterministic).

    True LTTB anchors each bucket's triangle on the PREVIOUS SELECTED
    point — a sequential chain with no parallel evaluation. Anchoring
    on the neighbor-bucket averages instead (the reference algorithm
    already uses the average for the NEXT bucket) makes every bucket
    independent: two keyed shuffles (rank window + bucket agg) and a
    per-bucket top-1, no sequential dependency — the honest scale
    trade, stated rather than hidden. Keys with <= ``n_out`` points
    pass through complete.

    Scale shape: one rank window per key over the series (the cost of
    ANY order-aware decimator), one bucket-grain aggregation with
    map-side combine, anchors via lag/lead over the bucket-BOUNDED
    table, one bounded top-1 window per (key, bucket)."""
    if n_out < 3:
        raise ValueError(f"n_out must be >= 3 (got {n_out})")
    keys = list(keys)
    t = F.col(ts_sec_col).cast("long")
    s = df.select(
        *keys, t.alias("_t"),
        F.col(value_col).cast("double").alias("_v"),
    ).filter(F.col("_t").isNotNull() & F.col("_v").isNotNull())
    wk = Window.partitionBy(*keys).orderBy("_t", "_v")
    ranked = s.select(
        *keys, "_t", "_v",
        (F.row_number().over(wk) - 1).alias("_r"),
        F.count(F.lit(1)).over(
            Window.partitionBy(*keys)
        ).alias("_n"),
    )
    # small keys pass through complete
    small = ranked.filter(F.col("_n") <= n_out).select(
        *keys, F.col("_t").alias("t"), F.col("_v").alias("value")
    )
    big = ranked.filter(F.col("_n") > n_out)
    b = n_out - 2
    # endpoints: bucket -1 (first point) and bucket b (last point)
    ends = big.filter(
        (F.col("_r") == 0) | (F.col("_r") == F.col("_n") - 1)
    )
    interior = big.filter(
        (F.col("_r") > 0) & (F.col("_r") < F.col("_n") - 1)
    ).withColumn(
        "_b",
        F.floor(
            (F.col("_r") - 1) * b / (F.col("_n") - F.lit(2))
        ).cast("long"),
    )
    # anchor table: first point, interior bucket averages, last point —
    # bucket-BOUNDED per key
    anchors = (
        interior.groupBy(*keys, "_b")
        .agg(F.avg("_t").alias("_at"), F.avg("_v").alias("_av"))
        .unionByName(
            ends.select(
                *keys,
                F.when(F.col("_r") == 0, F.lit(-1))
                .otherwise(F.lit(b))
                .cast("long")
                .alias("_b"),
                F.col("_t").cast("double").alias("_at"),
                F.col("_v").alias("_av"),
            )
        )
    )
    wb = Window.partitionBy(*keys).orderBy("_b")
    spans = anchors.select(
        *keys, "_b",
        F.lag("_at").over(wb).alias("_pt"),
        F.lag("_av").over(wb).alias("_pv"),
        F.lead("_at").over(wb).alias("_nt"),
        F.lead("_av").over(wb).alias("_nv"),
    ).filter((F.col("_b") >= 0) & (F.col("_b") < b))
    area = F.abs(
        (F.col("_pt") - F.col("_nt")) * (F.col("_v") - F.col("_pv"))
        - (F.col("_pt") - F.col("_t")) * (F.col("_nv") - F.col("_pv"))
    )
    wt = Window.partitionBy(*keys, "_b").orderBy(
        F.desc("_area"), F.asc("_t"), F.asc("_v")
    )
    picked = (
        interior.join(spans, [*keys, "_b"])
        .withColumn("_area", area)
        .withColumn("_rk", F.row_number().over(wt))
        .filter(F.col("_rk") == 1)
        .select(*keys, F.col("_t").alias("t"), F.col("_v").alias("value"))
    )
    kept_ends = ends.select(
        *keys, F.col("_t").alias("t"), F.col("_v").alias("value")
    )
    return small.unionByName(kept_ends).unionByName(picked)


def trend_ols(
    df: DataFrame,
    keys: Sequence[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """(keys..., n, slope, intercept, r2) — per-key ordinary
    least-squares trend over INTEGER (x, y) points: the "is this
    metric drifting" primitive behind every monitoring dashboard
    (fit counts-per-bucket, alert on slope). NULL x or y rows are
    excluded per key.

    Exactness: x and y are cast to long (the integer contract — scale
    floats upstream by the repo's floor-scale discipline), so the five
    moment sums and the centered cross terms
    ``Lxy = n·Σxy − Σx·Σy``, ``Lxx = n·Σx² − (Σx)²``,
    ``Lyy = n·Σy² − (Σy)²`` are EXACT int64 arithmetic; the only
    floating-point ops are the final divisions, written in one fixed
    operand order so the oracle restates them bit-identically:
    ``slope = double(Lxy)/double(Lxx)``,
    ``intercept = (double(Σy) − slope·double(Σx))/double(n)``,
    ``r2 = (double(Lxy)·double(Lxy))/(double(Lxx)·double(Lyy))``,
    each then 6-dp floor-rounded. int64 bounds: |n·Σx²| and |n·Σy²|
    must stay below 2^63 — rebase x to a small index and pre-aggregate
    y upstream (a day index over years of data and counts per bucket
    fit with 8+ orders of margin).

    Degenerate keys stay PRESENT with NULL fits (absence hides the
    finding): a single point or constant x (Lxx = 0) has no defined
    slope/intercept/r2; constant y (Lyy = 0) fits slope 0 exactly but
    r2 is NULL (0/0 — no variance to explain).

    Scale shape: ONE groupBy(keys) aggregation — map-side combinable
    partial sums, a single shuffle on the key, group count = |keys|.
    Never a window, never a per-key sort: OLS needs only moments."""
    if not keys:
        raise ValueError("keys must be non-empty")
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    agg = (
        df.filter(x.isNotNull() & y.isNotNull())
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).alias("_sx"),
            F.sum(y).alias("_sy"),
            F.sum(x * y).alias("_sxy"),
            F.sum(x * x).alias("_sxx"),
            F.sum(y * y).alias("_syy"),
        )
    )
    lxy = F.col("n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    lxx = F.col("n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    lyy = F.col("n") * F.col("_syy") - F.col("_sy") * F.col("_sy")
    slope = lxy.cast("double") / lxx.cast("double")
    intercept = (
        F.col("_sy").cast("double") - slope * F.col("_sx").cast("double")
    ) / F.col("n").cast("double")
    r2 = (lxy.cast("double") * lxy.cast("double")) / (
        lxx.cast("double") * lyy.cast("double")
    )
    return agg.select(
        *keys,
        "n",
        F.when(lxx != 0, _r6(slope)).alias("slope"),
        F.when(lxx != 0, _r6(intercept)).alias("intercept"),
        F.when((lxx != 0) & (lyy != 0), _r6(r2)).alias("r2"),
    )


def trend_theil_sen(
    df: DataFrame,
    keys: Sequence[str],
    x_col: str,
    y_col: str,
    max_points: int = 2_000,
) -> DataFrame:
    """(keys..., n, slope, intercept) — per-key THEIL–SEN trend: the
    median of all pairwise slopes (y_j − y_i)/(x_j − x_i), intercept =
    median(y − slope·x). The robust twin of :func:`trend_ols`: OLS has
    breakdown point 0 (one bot-traffic spike day drags the fit),
    Theil–Sen tolerates ~29% outliers — run both, and where they
    disagree is exactly where the outliers are. NULL x/y rows are
    excluded; keys with a single point or all-equal x stay PRESENT
    with NULL slope/intercept.

    Exactness: inputs are cast to long, every pair slope is ONE double
    division of exact int64 differences, and both medians interpolate
    midpoints exactly like DuckDB's ``quantile_cont`` (the
    value_outliers cross-engine precedent); results take the 6-dp
    floor round. Distinct x ties contribute every pair (x_i ≠ x_j
    required — equal-x pairs have no slope and are skipped, the
    standard Theil–Sen rule).

    Scale shape: the pair fan-out is a per-key self-join — C(n,2) rows
    per key, quadratic BY DEFINITION — so ``max_points`` refuses
    oversized keys loudly with a ``raise_error`` riding a per-key
    window count INSIDE the point projection (the in-path-guard
    discipline — an eager pre-count would pay one extra input scan per
    call, the edit_distance_pairs lesson; the window's key shuffle is
    one the self-join needs anyway): this estimator is for
    BUCKET-grain series (a decade of daily buckets is ~3.7k points —
    raise deliberately), never raw events; pre-aggregate with the
    bucket rollup first. The guarded point table is materialized once
    (``localCheckpoint``, the time_bucket_gapfill discipline) — both
    self-join sides, the sizes, and the residual pass read the
    bucket-grain table instead of each re-running the upstream rollup
    (4 raw scans otherwise); the guard fires at materialization, still
    loud."""
    if not keys:
        raise ValueError("keys must be non-empty")
    if max_points < 2:
        raise ValueError(f"max_points must be >= 2 (got {max_points})")
    n_key = F.count(F.lit(1)).over(Window.partitionBy(*keys))
    guarded_x = F.when(
        n_key <= F.lit(max_points), F.col(x_col).cast("long")
    ).otherwise(
        F.raise_error(
            F.format_string(
                "trend_theil_sen: a key holds %s points (> max_points="
                + str(max_points)
                + "); the pairwise-slope fan-out is C(n,2) per key BY "
                "DEFINITION — pre-aggregate to bucket grain (the trend "
                "contract) or raise max_points deliberately.",
                n_key,
            )
        )
    )
    pts = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(
        *keys,
        guarded_x.alias("_x"),
        F.col(y_col).cast("long").alias("_y"),
    )
    pts = pts.localCheckpoint()
    sizes = pts.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
    a = pts.select(
        *[F.col(k).alias(f"_ka_{k}") for k in keys],
        F.col("_x").alias("_xa"),
        F.col("_y").alias("_ya"),
    )
    b = pts.select(
        *[F.col(k).alias(f"_kb_{k}") for k in keys],
        F.col("_x").alias("_xb"),
        F.col("_y").alias("_yb"),
    )
    key_eq = [F.col(f"_ka_{k}") == F.col(f"_kb_{k}") for k in keys]
    cond = key_eq[0]
    for c in key_eq[1:]:
        cond = cond & c
    pair_slopes = (
        a.join(b, cond & (F.col("_xa") < F.col("_xb")))
        .select(
            *[F.col(f"_ka_{k}").alias(k) for k in keys],
            (
                (F.col("_yb") - F.col("_ya")).cast("double")
                / (F.col("_xb") - F.col("_xa")).cast("double")
            ).alias("_s"),
        )
    )
    slopes = pair_slopes.groupBy(*keys).agg(
        F.percentile("_s", F.lit(0.5)).alias("_slope")
    )
    resid = pts.join(slopes, list(keys), "left").select(
        *keys,
        "_slope",
        (
            F.col("_y").cast("double")
            - F.col("_slope") * F.col("_x").cast("double")
        ).alias("_r"),
    )
    fits = resid.groupBy(*keys, "_slope").agg(
        F.percentile("_r", F.lit(0.5)).alias("_icept")
    )
    return (
        sizes.join(fits, list(keys), "left")
        .select(
            *keys,
            "n",
            _r6(F.col("_slope")).alias("slope"),
            _r6(F.col("_icept")).alias("intercept"),
        )
    )


def trend_mann_kendall(
    df: DataFrame,
    keys: Sequence[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """(keys..., n, s_stat, var_s, z, trend) — the MANN–KENDALL trend
    significance test per key: is the monotone trend real, or noise?
    The nonparametric companion to :func:`trend_ols` (how steep) and
    :func:`trend_theil_sen` (how steep, robustly): S = Σ_{x_i<x_j}
    sign(y_j − y_i) counts concordant minus discordant pairs,
    var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]/18 with the standard
    tie correction over tied y-groups of size t, and the continuity-
    corrected z = (S∓1)/√var classifies ``trend`` at the 5% two-sided
    level: 'increasing' (z > 1.96), 'decreasing' (z < −1.96), else
    'no_trend'. Keys with var(S) = 0 (fewer than 2 points, or all y
    tied) stay PRESENT with NULL z/trend.

    Exactness: S and var(S)'s numerator are exact int64 (inputs cast
    to long); the only FP ops are the /18.0, the IEEE-exact sqrt
    (correctly rounded on every engine), the z division, and the 6-dp
    floor round — all in one fixed operand order, so the oracle is
    bit-identical. int64 bound: n³ per key below 2^63 (n ≤ ~2e6 —
    far past the bucket-grain contract).

    Contract: x must be UNIQUE per key (the bucket-grain rollup
    guarantees it; the tie-corrected variance above is the
    distinct-time formula) — a duplicate x is refused loudly in-path
    via a (key, x)-window count inside the y projection. Scale shape:
    the C(n,2) pair join is the :func:`trend_theil_sen` fan-out —
    bucket-grain by contract; the guarded point table is materialized
    once (``localCheckpoint``) so both join sides and the tie pass
    read it instead of re-running the upstream rollup (the gapfill
    discipline)."""
    if not keys:
        raise ValueError("keys must be non-empty")
    n_dup = F.count(F.lit(1)).over(Window.partitionBy(*keys, x_col))
    guarded_y = F.when(
        n_dup == F.lit(1), F.col(y_col).cast("long")
    ).otherwise(
        F.raise_error(
            F.format_string(
                "trend_mann_kendall: %s rows share one (key, x) — the "
                "tie-corrected variance is the distinct-time formula; "
                "pre-aggregate to bucket grain so x is unique per key.",
                n_dup,
            )
        )
    )
    pts = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(
        *keys,
        F.col(x_col).cast("long").alias("_x"),
        guarded_y.alias("_y"),
    )
    pts = pts.localCheckpoint()
    a = pts.select(
        *[F.col(k).alias(f"_ka_{k}") for k in keys],
        F.col("_x").alias("_xa"),
        F.col("_y").alias("_ya"),
    )
    b = pts.select(
        *[F.col(k).alias(f"_kb_{k}") for k in keys],
        F.col("_x").alias("_xb"),
        F.col("_y").alias("_yb"),
    )
    cond = F.col(f"_ka_{keys[0]}") == F.col(f"_kb_{keys[0]}")
    for k in keys[1:]:
        cond = cond & (F.col(f"_ka_{k}") == F.col(f"_kb_{k}"))
    s_tab = (
        a.join(b, cond & (F.col("_xa") < F.col("_xb")))
        .groupBy(*[F.col(f"_ka_{k}").alias(k) for k in keys])
        .agg(
            F.sum(F.signum(F.col("_yb") - F.col("_ya")).cast("long"))
            .alias("s_stat")
        )
    )
    ties = (
        pts.groupBy(*keys, "_y")
        .agg(F.count(F.lit(1)).alias("_t"))
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("_groups"),
            F.sum(
                F.col("_t")
                * (F.col("_t") - 1)
                * (2 * F.col("_t") + 5)
            ).alias("_tie_term"),
            F.sum("_t").alias("n"),
        )
    )
    var_num = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
        - F.col("_tie_term")
    )
    var_s = var_num.cast("double") / F.lit(18.0)
    s_d = F.col("s_stat").cast("double")
    z = (
        F.when(F.col("s_stat") > 0, (s_d - F.lit(1.0)) / F.sqrt(var_s))
        .when(F.col("s_stat") < 0, (s_d + F.lit(1.0)) / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
    )
    return (
        ties.join(s_tab, list(keys), "left")
        .select(
            *keys,
            "n",
            F.coalesce(F.col("s_stat"), F.lit(0)).alias("s_stat"),
            _r6(var_s).alias("var_s"),
            F.when(var_num > 0, _r6(z)).alias("z"),
            F.when(
                var_num > 0,
                F.when(z > 1.96, "increasing")
                .when(z < -1.96, "decreasing")
                .otherwise("no_trend"),
            ).alias("trend"),
        )
    )


def trend_changepoint(
    df: DataFrame,
    keys: Sequence[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """(keys..., n, cp_x, cusum_max) — offline CUSUM changepoint per
    key: WHERE did the level shift. The companion question to the
    trend triad (:func:`trend_ols` how steep, :func:`trend_theil_sen`
    robustly, :func:`trend_mann_kendall` is it real): the changepoint
    is the x maximizing |S_i|, where S_i = cum_i − (i/n)·total is the
    cumulative deviation from a flat series — the classic offline
    CUSUM estimator (Page 1954 / Pettitt's location form). ``cp_x``
    is the LAST x of the before-segment; ``cusum_max`` = max|S_i|
    (6-dp floor-rounded) is the shift magnitude in y-units·buckets —
    compare across keys to rank the sharpest breaks.

    Exactness: the argmax runs on n·cum_i − i·total — EXACT int64 (no
    division inside the comparison, so ties are true ties and break
    deterministically to the smallest x); the only FP is the single
    final division S_max/n and the floor round. int64 bound:
    n·Σy < 2^63. The trailing point is excluded (S_n ≡ 0, never a
    candidate); keys with n < 2 stay PRESENT with NULL cp_x/cusum_max.
    Duplicate (key, x) is refused in-path — cum over a non-unique
    order is not well-defined (the :func:`trend_mann_kendall` guard).

    Scale shape: one ordered window pass per key partition (cum-sum +
    row_number + the per-key totals over the same partition — one
    shuffle, one sort) and a rank-1 filter; bucket-grain inputs by
    the trend-family contract. The guarded point table is materialized
    once (``localCheckpoint``) so the window pass and the sizes read
    it instead of re-running the upstream rollup (the gapfill
    discipline)."""
    if not keys:
        raise ValueError("keys must be non-empty")
    n_dup = F.count(F.lit(1)).over(Window.partitionBy(*keys, x_col))
    guarded_y = F.when(
        n_dup == F.lit(1), F.col(y_col).cast("long")
    ).otherwise(
        F.raise_error(
            F.format_string(
                "trend_changepoint: %s rows share one (key, x) — the "
                "cumulative sum needs a unique order; pre-aggregate to "
                "bucket grain.",
                n_dup,
            )
        )
    )
    pts = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(
        *keys,
        F.col(x_col).cast("long").alias("_x"),
        guarded_y.alias("_y"),
    )
    pts = pts.localCheckpoint()
    wk = Window.partitionBy(*keys)
    wo = wk.orderBy("_x").rowsBetween(Window.unboundedPreceding, 0)
    staged = pts.select(
        *keys,
        "_x",
        F.sum("_y").over(wo).alias("_cum"),
        F.row_number().over(wk.orderBy("_x")).alias("_i"),
        F.sum("_y").over(wk).alias("_tot"),
        F.count(F.lit(1)).over(wk).alias("n"),
    )
    stat = F.col("n") * F.col("_cum") - F.col("_i") * F.col("_tot")
    scored = staged.filter(F.col("_i") < F.col("n")).select(
        *keys,
        "_x",
        "n",
        F.abs(stat).alias("_astat"),
    )
    wr = wk.orderBy(F.desc("_astat"), F.asc("_x"))
    best = (
        scored.withColumn("_rk", F.row_number().over(wr))
        .filter(F.col("_rk") == 1)
        .select(
            *keys,
            F.col("_x").alias("cp_x"),
            _r6(
                F.col("_astat").cast("double") / F.col("n").cast("double")
            ).alias("cusum_max"),
        )
    )
    sizes = pts.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
    return sizes.join(best, list(keys), "left").select(
        *keys, "n", "cp_x", "cusum_max"
    )


def _freshness_finish(
    roll: DataFrame, key_cols: Sequence[str], as_of: int | None
) -> DataFrame:
    """Shared finish over a per-key (n_events, first_ts, last_ts)
    rollup — the batch kernel and the streaming watcher both end here,
    so stream == batch is exact by construction. ``as_of=None``
    derives the watermark as the global max last_ts (one honest
    global window over the KEY-sized rollup, the concentration
    posture)."""
    wm = (
        F.lit(int(as_of))
        if as_of is not None
        else F.max("last_ts").over(Window.partitionBy())
    )
    return roll.select(
        *key_cols,
        "n_events",
        "first_ts",
        "last_ts",
        (wm - F.col("last_ts")).cast("long").alias("staleness_s"),
    )


def freshness_report(
    events: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    as_of: int | None = None,
) -> DataFrame:
    """Per-key data freshness: (keys..., n_events, first_ts, last_ts,
    staleness_s) — which sources/partitions have gone QUIET: the
    watermark audit every ingest pipeline reports before a training
    snapshot is cut ("the forum crawl's last event is 3 days behind
    the firehose"). ``staleness_s`` is ``as_of − last_ts``;
    ``as_of=None`` (default) uses the stream's own observed watermark
    (max last_ts across keys), so the freshest key reads 0. Rows with
    a NULL timestamp are excluded.

    Exactness: pure int64 min/max/count — no FP anywhere.

    Scale shape: ONE key-grained aggregation collapses the stream
    (map-side combinable); the derived watermark is a global window
    over the KEY-sized rollup only. The same rollup merges in the
    streaming form (:func:`~..streaming.ingest.watch_freshness`) —
    min/max/sum are mergeable, so stream == batch is EXACT."""
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    t = F.col(ts_col).cast("long")
    roll = (
        events.filter(t.isNotNull())
        .groupBy(*[F.col(k) for k in key_cols])
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min(t).alias("first_ts"),
            F.max(t).alias("last_ts"),
        )
    )
    return _freshness_finish(roll, key_cols, as_of)


def period_over_period(
    events: DataFrame,
    key_cols: Sequence[str],
    ts_sec_col: str,
    width: int,
    lag_periods: int = 1,
) -> DataFrame:
    """Per-key period-over-period volume deltas: one row per occupied
    (key, bucket) — (keys..., x, t_lo_s, y, y_prev, delta,
    pct_change) — the WoW/DoD table every BI layer reports ("is this
    source's volume 30% down vs last week"). ``y_prev`` is the count
    of bucket ``x − lag_periods`` EXACTLY (an equi-join on the bucket
    arithmetic, NOT a window lag — a window's lag() reads the previous
    OCCUPIED bucket, which silently compares Monday to last Friday
    across a gap); an absent comparison bucket yields NULL
    prev/delta/pct (no baseline, not a 0 — a zero baseline is a
    different finding than a missing one).

    Exactness: counts and deltas exact int64; ``pct_change`` is ONE
    fixed-order division + the 6-dp floor round, NULL when the
    baseline is 0 (a ratio against nothing).

    Scale shape: one bucket-grained aggregation collapses the stream,
    then a keyed self equi-join of the GRAIN table against itself
    (fresh aliases on the shifted side — the self-derived-join rule);
    both sides are grain-sized, the join key is (keys, bucket)."""
    if width < 1:
        raise ValueError(f"width must be >= 1 (got {width})")
    if lag_periods < 1:
        raise ValueError(f"lag_periods must be >= 1 (got {lag_periods})")
    t = F.col(ts_sec_col).cast("long")
    keys = list(key_cols)
    # floor bucket (negative-epoch safe, the corpus_cli trend rule)
    grain = (
        events.filter(t.isNotNull())
        .select(*keys, t.alias("_t"))
        .select(
            *keys,
            F.expr(
                f"(_t - pmod(_t, {int(width)})) div {int(width)}"
            ).alias("x"),
        )
        .groupBy(*keys, "x")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    prev = grain.select(
        *[F.col(k).alias(f"_p_{k}") for k in keys],
        (F.col("x") + F.lit(int(lag_periods))).alias("_px"),
        F.col("y").alias("y_prev"),
    )
    cond = F.col("x") == F.col("_px")
    for k in keys:
        cond = cond & (F.col(k) == F.col(f"_p_{k}"))
    r6 = lambda c: (  # noqa: E731 — the cross-engine-exact floor round
        F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)
    )
    delta = F.col("y") - F.col("y_prev")
    return (
        grain.join(prev, cond, "left")
        .select(
            *keys,
            "x",
            (F.col("x") * F.lit(int(width))).cast("long").alias(
                "t_lo_s"
            ),
            "y",
            F.col("y_prev").cast("long").alias("y_prev"),
            delta.cast("long").alias("delta"),
            F.when(
                F.col("y_prev") > 0,
                r6(delta.cast("double") / F.col("y_prev").cast("double")),
            ).alias("pct_change"),
        )
    )
