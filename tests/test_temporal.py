"""Semantics of the time-series resampling family
(operators/temporal.py): gapfill spine coverage, each fill policy
against hand-computed values, the counted explode guard, and OHLC
tie-break determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from process_alphafold3_outputs_spark.operators.temporal import (
    ohlc_downsample,
    time_bucket_gapfill,
)


def _series(spark, rows):
    return spark.createDataFrame(rows, "k string, t long, v double")


@pytest.fixture(scope="module")
def gappy(spark):
    # key "a": observations in buckets 0, 30, 40 (width 10) -> gaps at
    # 10 and 20; key "b": single observation (no spine beyond itself)
    return _series(
        spark,
        [
            ("a", 1, 10.0),
            ("a", 5, 20.0),  # bucket 0: avg 15.0
            ("a", 33, 30.0),  # bucket 30
            ("a", 47, 90.0),  # bucket 40
            ("b", 100, 7.0),  # bucket 100
        ],
    )


def _by_key_bucket(df):
    return {
        (r["k"], r["bucket"]): (r["n"], r["value"])
        for r in df.collect()
    }


def test_gapfill_spine_is_dense_per_key(spark, gappy):
    out = time_bucket_gapfill(gappy, ["k"], "t", "v", 10, fill="none")
    got = _by_key_bucket(out)
    assert sorted(b for k, b in got if k == "a") == [0, 10, 20, 30, 40]
    assert sorted(b for k, b in got if k == "b") == [100]
    # gap rows carry n=0 and NULL value under fill="none"
    assert got[("a", 10)] == (0, None)
    assert got[("a", 20)] == (0, None)
    assert got[("a", 0)] == (2, 15.0)


def test_gapfill_locf_and_zero(spark, gappy):
    locf = _by_key_bucket(
        time_bucket_gapfill(gappy, ["k"], "t", "v", 10, fill="locf")
    )
    assert locf[("a", 10)] == (0, 15.0)
    assert locf[("a", 20)] == (0, 15.0)
    assert locf[("a", 30)] == (1, 30.0)
    zero = _by_key_bucket(
        time_bucket_gapfill(gappy, ["k"], "t", "v", 10, fill="zero")
    )
    assert zero[("a", 10)] == (0, 0.0)
    assert zero[("a", 0)] == (2, 15.0)


def test_gapfill_linear_interpolates_hand_computed(spark, gappy):
    out = _by_key_bucket(
        time_bucket_gapfill(gappy, ["k"], "t", "v", 10, fill="linear")
    )
    # neighbors: bucket 0 -> 15.0, bucket 30 -> 30.0
    # bucket 10: 15 + (30-15) * (10-0)/(30-0) = 20.0
    # bucket 20: 15 + (30-15) * (20-0)/(30-0) = 25.0
    assert out[("a", 10)] == (0, 20.0)
    assert out[("a", 20)] == (0, 25.0)
    # observed buckets pass through untouched
    assert out[("a", 40)] == (1, 90.0)
    assert out[("b", 100)] == (1, 7.0)


def test_gapfill_negative_timestamps_bucket_correctly(spark):
    # floor-div semantics: -1 belongs to bucket -10, not bucket 0
    df = _series(spark, [("a", -1, 1.0), ("a", 11, 2.0)])
    out = _by_key_bucket(
        time_bucket_gapfill(df, ["k"], "t", "v", 10, fill="none")
    )
    assert sorted(b for _, b in out) == [-10, 0, 10]
    assert out[("a", -10)] == (1, 1.0)


def test_gapfill_count_agg_and_sum(spark, gappy):
    out = _by_key_bucket(
        time_bucket_gapfill(gappy, ["k"], "t", "v", 10, agg="count",
                            fill="zero")
    )
    assert out[("a", 0)] == (2, 2.0)
    assert out[("a", 10)] == (0, 0.0)
    s = _by_key_bucket(
        time_bucket_gapfill(gappy, ["k"], "t", "v", 10, agg="sum",
                            fill="none")
    )
    assert s[("a", 0)] == (2, 30.0)


def test_gapfill_guard_refuses_wide_span(spark):
    df = _series(spark, [("a", 0, 1.0), ("a", 10_000_000, 2.0)])
    with pytest.raises(ValueError, match="max_buckets"):
        time_bucket_gapfill(df, ["k"], "t", "v", 1, max_buckets=1000)
    # same span, coarser width: passes the guard
    out = time_bucket_gapfill(
        df, ["k"], "t", "v", 100_000, max_buckets=1000
    )
    assert out.count() == 101


def test_gapfill_param_validation(spark, gappy):
    with pytest.raises(ValueError, match="width"):
        time_bucket_gapfill(gappy, ["k"], "t", "v", 0)
    with pytest.raises(ValueError, match="fill"):
        time_bucket_gapfill(gappy, ["k"], "t", "v", 10, fill="nope")
    with pytest.raises(ValueError, match="agg"):
        time_bucket_gapfill(gappy, ["k"], "t", "v", 10, agg="median")


def test_ohlc_hand_computed_with_tiebreak(spark):
    df = spark.createDataFrame(
        [
            # bucket 0: ties at t=1 -> seq breaks open (seq 0 first),
            # ties at t=9 -> seq breaks close (seq 4 last)
            ("a", 1, 0, 5.0),
            ("a", 1, 1, 3.0),
            ("a", 4, 2, 99.0),
            ("a", 9, 3, 1.0),
            ("a", 9, 4, 7.0),
            ("a", 12, 5, 42.0),  # bucket 10
        ],
        "k string, t long, seq long, v double",
    )
    out = {
        r["bucket"]: (r["n"], r["open"], r["high"], r["low"], r["close"])
        for r in ohlc_downsample(
            df, ["k"], "t", "v", 10, seq_col="seq"
        ).collect()
    }
    assert out[0] == (5, 5.0, 99.0, 1.0, 7.0)
    assert out[10] == (1, 42.0, 42.0, 42.0, 42.0)


def test_ohlc_width_validation(spark, gappy):
    with pytest.raises(ValueError, match="width"):
        ohlc_downsample(gappy, ["k"], "t", "v", -5)


# --------------------------------------------------------------------------
# mergeable OHLC components + the 22nd watcher
# --------------------------------------------------------------------------
def test_ohlc_components_merge_equals_one_shot(spark):
    from process_alphafold3_outputs_spark.operators.temporal import (
        merge_ohlc,
        ohlc_components,
        ohlc_from_components,
    )

    rows = [
        ("a", 1, 0, 5.0), ("a", 1, 1, 3.0), ("a", 9, 2, 7.0),
        ("a", 12, 3, 42.0), ("b", 2, 4, 1.0), ("b", 8, 5, -4.0),
    ]
    schema = "k string, t long, seq long, v double"
    full = spark.createDataFrame(rows, schema)
    # split so bucket (a, 0) STRADDLES the shipments — the merge must
    # re-pick open from shipment 1 and close from shipment 2
    s1 = spark.createDataFrame(rows[:2] + rows[4:5], schema)
    s2 = spark.createDataFrame(rows[2:4] + rows[5:], schema)
    merged = ohlc_from_components(
        merge_ohlc(
            ohlc_components(s1, ["k"], "t", "v", 10, "seq"),
            ohlc_components(s2, ["k"], "t", "v", 10, "seq"),
            ["k"],
        ),
        ["k"],
    )
    one_shot = ohlc_downsample(full, ["k"], "t", "v", 10, seq_col="seq")
    key = lambda df: sorted(map(tuple, df.collect()))
    assert key(merged) == key(one_shot)


def test_watch_events_ohlc_stream_equals_batch_and_replays(spark, tmp_path):
    """Two epochs through the 22nd watcher == the batch ohlc_downsample
    over the union (EXACT), and a crash-replayed epoch is idempotent."""
    import os

    from process_alphafold3_outputs_spark.streaming.ingest import (
        _ohlc_process_batch,
        read_state,
        watch_events_ohlc,
    )

    schema = "k string, t long, seq long, v double"
    inbox = str(tmp_path / "inbox")
    out = str(tmp_path / "bars")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    e0 = [("a", 1, 0, 5.0), ("a", 9, 1, 7.0), ("b", 2, 2, 1.0)]
    e1 = [("a", 4, 3, -9.0), ("a", 19, 4, 2.0), ("b", 3, 5, 8.0)]
    spark.createDataFrame(e0, schema).coalesce(1).write.mode(
        "append"
    ).parquet(inbox)
    q = watch_events_ohlc(
        spark, inbox, out, state, ckpt, schema, ["k"], "t", "v", 10,
        "seq",
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(e1, schema).coalesce(1).write.mode(
            "append"
        ).parquet(inbox)
        q.processAllAvailable()
    finally:
        q.stop()

    got = sorted(
        map(
            tuple,
            spark.read.parquet(os.path.join(out, "epoch_id=1")).select(
                "k", "bucket", "n", "open", "high", "low", "close"
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            ohlc_downsample(
                spark.createDataFrame(e0 + e1, schema),
                ["k"], "t", "v", 10, seq_col="seq",
            ).select(
                "k", "bucket", "n", "open", "high", "low", "close"
            ).collect(),
        )
    )
    assert got == want
    # the epoch-0 bucket (a, 0) was REOPENED by epoch 1's t=4 low
    a0 = [r for r in got if r[0] == "a" and r[1] == 0][0]
    assert a0[2:] == (3, 5.0, 7.0, -9.0, 7.0)
    # crash replay of epoch 1: identical state and output
    _ohlc_process_batch(
        spark.createDataFrame(e1, schema), 1, state, out, ["k"], "t",
        "v", 10, "seq",
    )
    replay = sorted(
        map(
            tuple,
            spark.read.parquet(os.path.join(out, "epoch_id=1")).select(
                "k", "bucket", "n", "open", "high", "low", "close"
            ).collect(),
        )
    )
    assert replay == want


# --------------------------------------------------------------------------
# monitoring kernels: rate / rolling z-score / seasonal baseline
# --------------------------------------------------------------------------
def test_rate_gauge_vs_counter_semantics(spark):
    from process_alphafold3_outputs_spark.operators.temporal import (
        rate_of_change,
    )

    df = spark.createDataFrame(
        [
            ("a", 0, 0, 10.0),
            ("a", 10, 1, 30.0),   # +2/s
            ("a", 20, 2, 4.0),    # drop: gauge -2.6/s; counter resets -> 0.4/s
            ("a", 20, 3, 6.0),    # dt=0 -> NULL either way
        ],
        "k string, t long, seq long, v double",
    )
    gauge = {
        (r["t"], r["value"]): r["rate"]
        for r in rate_of_change(df, ["k"], "t", "v", "seq").collect()
    }
    assert gauge[(0, 10.0)] is None
    assert gauge[(10, 30.0)] == 2.0
    assert gauge[(20, 4.0)] == -2.6
    assert gauge[(20, 6.0)] is None
    counter = {
        (r["t"], r["value"]): r["rate"]
        for r in rate_of_change(
            df, ["k"], "t", "v", "seq", counter=True
        ).collect()
    }
    assert counter[(20, 4.0)] == 0.4  # post-reset accumulation / dt
    assert counter[(10, 30.0)] == 2.0


def test_rolling_zscore_excludes_current_and_respects_min_obs(spark):
    from process_alphafold3_outputs_spark.operators.temporal import (
        rolling_zscore,
    )

    rows = [("a", i, i, 10.0) for i in range(6)] + [("a", 6, 6, 16.0)]
    df = spark.createDataFrame(rows, "k string, t long, seq long, v double")
    out = {r["t"]: (r["mean_prev"], r["z"]) for r in rolling_zscore(
        df, ["k"], "t", "v", "seq", window=10, min_obs=3
    ).collect()}
    # first 3 rows: < min_obs priors -> NULL
    assert out[0] == (None, None)
    assert out[2] == (None, None)
    # constant prior window: variance 0 -> z NULL but mean present
    assert out[5] == (10.0, None)
    # t=6 scores against six 10.0 priors: mean 10, var 0 -> NULL z
    assert out[6] == (10.0, None)
    # a varying series produces a real z, and the current value never
    # contaminates its own baseline
    rows2 = [("b", i, i, float(v)) for i, v in enumerate([1, 2, 3, 4, 100])]
    df2 = spark.createDataFrame(rows2, "k string, t long, seq long, v double")
    z = {r["t"]: r for r in rolling_zscore(
        df2, ["k"], "t", "v", "seq", window=10, min_obs=3
    ).collect()}
    assert z[4]["mean_prev"] == 2.5  # mean of 1..4, NOT including 100
    assert z[4]["z"] > 50  # (100-2.5)/1.29


def test_seasonal_baseline_and_deviations(spark):
    from process_alphafold3_outputs_spark.operators.temporal import (
        seasonal_baseline,
        seasonal_deviations,
    )
    import pytest as _pt

    # two days, same two phases (hour 0 and hour 1 of a 2-bucket,
    # 7200-second "day")
    rows = [
        ("a", 0, 10.0), ("a", 3600, 20.0),       # day 1
        ("a", 7200, 14.0), ("a", 10800, 26.0),   # day 2
    ]
    df = spark.createDataFrame(rows, "k string, t long, v double")
    base = {
        r["phase"]: (r["baseline"], r["n"])
        for r in seasonal_baseline(
            df, ["k"], "t", "v", period=7200, n_buckets=2
        ).collect()
    }
    assert base[0] == (12.0, 2) and base[1] == (23.0, 2)
    dev = {
        r["t"]: (r["phase"], r["deviation"])
        for r in seasonal_deviations(
            df, ["k"], "t", "v", period=7200, n_buckets=2
        ).collect()
    }
    assert dev[0] == (0, -2.0) and dev[7200] == (0, 2.0)
    assert dev[3600] == (1, -3.0) and dev[10800] == (1, 3.0)
    with _pt.raises(ValueError, match="multiple"):
        seasonal_baseline(df, ["k"], "t", "v", period=100, n_buckets=7)


def test_seasonal_negative_timestamps_phase_positive(spark):
    from process_alphafold3_outputs_spark.operators.temporal import (
        seasonal_baseline,
    )

    # t = -3600 is hour 23 of the previous day, never hour -1
    df = spark.createDataFrame(
        [("a", -3600, 5.0)], "k string, t long, v double"
    )
    r = seasonal_baseline(df, ["k"], "t", "v").collect()[0]
    assert r["phase"] == 23


# --------------------------------------------------------------------------
# merge_asof surface: direction + tolerance
# --------------------------------------------------------------------------
def test_asof_directions_and_tolerance_hand_computed(spark):
    from process_alphafold3_outputs_spark.operators.asof import as_of_join

    left = spark.createDataFrame(
        [(1, "x", 10), (2, "x", 35), (3, "x", 100), (4, "y", 5)],
        "id long, k string, t long",
    )
    right = spark.createDataFrame(
        [("x", 8, 80.0), ("x", 12, 120.0), ("x", 40, 400.0)],
        "k string, t long, v double",
    )

    def run(**kw):
        return {
            r["id"]: r["asof_v"]
            for r in as_of_join(
                left, right, ["k"], "t", "t", ["v"], **kw
            ).collect()
        }

    back = run()
    assert back == {1: 80.0, 2: 120.0, 3: 400.0, 4: None}
    fwd = run(direction="forward")
    assert fwd == {1: 120.0, 2: 400.0, 3: None, 4: None}
    near = run(direction="nearest")
    # id=1: backward 8 (d=2) vs forward 12 (d=2) -> TIE -> backward
    # id=2: backward 12 (d=23) vs forward 40 (d=5) -> forward
    assert near == {1: 80.0, 2: 400.0, 3: 400.0, 4: None}
    tol = run(direction="nearest", tolerance=10)
    # id=3: nearest is 40 at distance 60 > 10 -> NULL
    assert tol == {1: 80.0, 2: 400.0, 3: None, 4: None}
    btol = run(tolerance=1)
    assert btol == {1: None, 2: None, 3: None, 4: None}


def test_asof_inclusive_at_equality_all_directions(spark):
    from process_alphafold3_outputs_spark.operators.asof import as_of_join

    left = spark.createDataFrame([(1, "x", 50)], "id long, k string, t long")
    right = spark.createDataFrame([("x", 50, 5.0)], "k string, t long, v double")
    for d in ("backward", "forward", "nearest"):
        got = as_of_join(
            left, right, ["k"], "t", "t", ["v"], direction=d, tolerance=0
        ).collect()[0]["asof_v"]
        assert got == 5.0, d


def test_asof_validation(spark):
    from process_alphafold3_outputs_spark.operators.asof import as_of_join

    left = spark.createDataFrame([(1, "x", 50)], "id long, k string, t long")
    with pytest.raises(ValueError, match="direction"):
        as_of_join(left, left, ["k"], "t", "t", ["id"], direction="up")
    with pytest.raises(ValueError, match="tolerance"):
        as_of_join(left, left, ["k"], "t", "t", ["id"], tolerance=-1)


def test_cli_monitor_modes(spark, tmp_path):
    from process_alphafold3_outputs_spark import corpus_cli

    d = str(tmp_path / "mt")
    spark.createDataFrame(
        [("a", 0, 0, 10.0), ("a", 10, 1, 30.0), ("a", 20, 2, 4.0)],
        "k string, t long, seq long, v double",
    ).write.parquet(d)
    out = str(tmp_path / "mo")

    def run(extra):
        args = corpus_cli.build_parser().parse_args(
            ["monitor", "--input", d, "--ts-col", "t", "--value-col",
             "v", "--key", "k", "--out", out] + extra
        )
        assert corpus_cli.run(args, spark)["rows"] == 3
        return spark.read.parquet(out)

    rate = {r.t: r.rate for r in run(
        ["--stat", "rate", "--seq-col", "seq", "--counter"]
    ).collect()}
    assert rate[20] == 0.4  # counter reset
    seas = run(["--stat", "seasonal", "--period", "86400"]).collect()
    assert all(r.phase == 0 for r in seas)
    import pytest as _pt
    with _pt.raises(SystemExit, match="seq-col"):
        args = corpus_cli.build_parser().parse_args(
            ["monitor", "--input", d, "--ts-col", "t", "--value-col",
             "v", "--key", "k", "--out", out, "--stat", "zscore"]
        )
        corpus_cli.run(args, spark)


def test_watch_events_rate_stream_equals_batch_and_replays(spark, tmp_path):
    """Epoch rows rated through the 23rd watcher == the batch
    rate_of_change over the WHOLE history (the phantom-row seed makes
    each epoch's first observation rate against the stream's true
    predecessor); state is one row per key; crash replay idempotent."""
    import os

    from process_alphafold3_outputs_spark.operators.temporal import (
        rate_of_change,
    )
    from process_alphafold3_outputs_spark.streaming.ingest import (
        _rate_process_batch,
        read_state,
        watch_events_rate,
    )

    schema = "k string, t long, seq long, v double"
    inbox = str(tmp_path / "inbox")
    out = str(tmp_path / "rates")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    e0 = [("a", 0, 0, 10.0), ("a", 10, 1, 30.0), ("b", 5, 2, 1.0)]
    e1 = [("a", 20, 3, 4.0), ("b", 15, 4, 3.0)]
    spark.createDataFrame(e0, schema).coalesce(1).write.mode(
        "append"
    ).parquet(inbox)
    q = watch_events_rate(
        spark, inbox, out, state, ckpt, schema, ["k"], "t", "v", "seq",
        counter=True,
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(e1, schema).coalesce(1).write.mode(
            "append"
        ).parquet(inbox)
        q.processAllAvailable()
    finally:
        q.stop()

    def rows(path):
        return sorted(
            (r.k, r.t, r.value, r.rate)
            for r in spark.read.parquet(path).collect()
        )

    got = rows(os.path.join(out, "epoch_id=0")) + rows(
        os.path.join(out, "epoch_id=1")
    )
    batch = rate_of_change(
        spark.createDataFrame(e0 + e1, schema), ["k"], "t", "v", "seq",
        counter=True,
    )
    want = sorted((r.k, r.t, r.value, r.rate) for r in batch.collect())
    assert sorted(got) == want
    # epoch 1's first "a" row rated against epoch 0's last (30.0 at
    # t=10): counter reset -> 4/10
    assert ("a", 20, 4.0, 0.4) in got
    # state: one row per key, the max-(t, seq) observation
    st = {
        r.k: (r.t, r.v)
        for r in read_state(
            spark, state, "k string, t long, s long, v double"
        ).collect()
    }
    assert st == {"a": (20, 4.0), "b": (15, 3.0)}
    # crash replay of epoch 1
    _rate_process_batch(
        spark.createDataFrame(e1, schema), 1, state, out, ["k"], "t",
        "v", "seq", True,
    )
    assert rows(os.path.join(out, "epoch_id=1")) == rows(
        os.path.join(out, "epoch_id=1")
    ) and sorted(
        rows(os.path.join(out, "epoch_id=0"))
        + rows(os.path.join(out, "epoch_id=1"))
    ) == want


# --------------------------------------------------------------------------
# cross-correlation + sliding HLL distincts
# --------------------------------------------------------------------------
def test_cross_correlation_finds_planted_lag(spark):
    from process_alphafold3_outputs_spark.operators.temporal import (
        cross_correlation,
    )

    vals = [1, 5, 2, 8, 3, 9, 4, 7, 6, 2]
    a = spark.createDataFrame(
        [("k", i * 10, float(v)) for i, v in enumerate(vals)],
        "k string, bucket long, value double",
    )
    # b is a delayed copy of a: a LEADS b by 2 buckets
    b = spark.createDataFrame(
        [("k", (i + 2) * 10, float(v)) for i, v in enumerate(vals)],
        "k string, bucket long, value double",
    )
    out = {
        r.lag: (r.n, r.corr)
        for r in cross_correlation(a, b, ["k"], 10, 3).collect()
    }
    assert out[2] == (10, 1.0)  # perfect at the planted lag, full n
    assert len(out) == 7  # every lag in [-3, 3] reported
    assert all(c is None or c < 1.0 for lag, (n, c) in out.items()
               if lag != 2)
    # n shrinks as the overlap shrinks
    assert out[-3][0] == 5


def test_cross_correlation_constant_side_null_and_validation(spark):
    from process_alphafold3_outputs_spark.operators.temporal import (
        cross_correlation,
    )

    a = spark.createDataFrame(
        [("k", 0, 1.0), ("k", 10, 2.0)], "k string, bucket long, value double"
    )
    c = spark.createDataFrame(
        [("k", 0, 7.0), ("k", 10, 7.0)], "k string, bucket long, value double"
    )
    out = cross_correlation(a, c, ["k"], 10, 0).collect()[0]
    assert out.corr is None and out.n == 2
    with pytest.raises(ValueError, match="max_lag"):
        cross_correlation(a, c, ["k"], 10, -1)


def test_sliding_distinct_estimate_tracks_windows(spark):
    import math

    from process_alphafold3_outputs_spark.operators.temporal import (
        sliding_distinct_estimate,
    )

    m = 64
    rows = (
        [("k", 0, str(v)) for v in range(10)]
        + [("k", 10, str(v)) for v in range(10, 20)]
        + [("k", 30, "x")]
    )
    df = spark.createDataFrame(rows, "k string, t long, v string")
    est = {
        r.bucket: r
        for r in sliding_distinct_estimate(
            df, ["k"], "t", "v", 10, trailing=2, m=m
        ).collect()
    }

    def lc(r):  # linear-counting correction (the documented consumer step)
        return m * math.log(m / r.n_empty)

    # trailing-2 windows: bucket 0 sees 10 distincts, bucket 10 sees
    # all 20, bucket 30's window (20..30) sees only its own 1 — the
    # range frame did NOT leak bucket 10 across the empty gap
    assert abs(lc(est[0]) - 10) < 3
    assert abs(lc(est[10]) - 20) < 5
    assert abs(lc(est[30]) - 1) < 1
    # trailing=1 degenerates to the per-bucket estimate
    one = {
        r.bucket: r
        for r in sliding_distinct_estimate(
            df, ["k"], "t", "v", 10, trailing=1, m=m
        ).collect()
    }
    assert abs(lc(one[10]) - 10) < 3


def test_sliding_distinct_equals_batch_hll_on_union(spark):
    """The trailing-window register merge must equal the one-shot HLL
    over the union of the covered buckets — mergeability on the time
    axis, EXACT (same md5 registers)."""
    from process_alphafold3_outputs_spark.operators.sketches import (
        hll_deterministic,
    )
    from process_alphafold3_outputs_spark.operators.temporal import (
        sliding_distinct_estimate,
    )

    rows = [("k", t, f"v{t}_{i}") for t in (0, 10) for i in range(12)]
    df = spark.createDataFrame(rows, "k string, t long, v string")
    win = {
        r.bucket: (r.raw_est, r.n_empty)
        for r in sliding_distinct_estimate(
            df, ["k"], "t", "v", 10, trailing=2, m=64
        ).collect()
    }
    batch = hll_deterministic(
        df.select(F.lit("k").alias("g"), "v"), "g", "v", m=64
    ).collect()[0]
    assert win[10] == (batch.raw_est, batch.n_empty)


def test_lttb_downsample_matches_python_reference(spark):
    """The fixed-anchor LTTB kernel == an independent pure-Python
    restatement (endpoints kept, equal-count rank buckets, neighbor-
    average anchors, deterministic tie order) on a seeded series, per
    key; small keys pass through complete; guard refuses n_out < 3."""
    import random

    import pytest as _pt

    from process_alphafold3_outputs_spark.operators.temporal import (
        lttb_downsample,
    )

    rng = random.Random(123)
    rows = []
    for k in ("a", "b"):
        for i in range(97 if k == "a" else 5):
            rows.append((k, i * 10 + (3 if k == "b" else 0),
                         float(rng.randrange(-50, 50))))
    df = spark.createDataFrame(rows, "k string, t long, value double")
    n_out = 12
    got = {
        (r.k, r.t, r.value)
        for r in lttb_downsample(df, ["k"], "t", "value", n_out).collect()
    }

    def ref_one(pts, n_out):
        pts = sorted(pts)
        n = len(pts)
        if n <= n_out:
            return set(pts)
        b = n_out - 2
        out = {pts[0], pts[-1]}
        buckets = {}
        for r in range(1, n - 1):
            buckets.setdefault((r - 1) * b // (n - 2), []).append(pts[r])
        anchors = {-1: pts[0], b: pts[-1]}
        for bi, members in buckets.items():
            anchors[bi] = (
                sum(p[0] for p in members) / len(members),
                sum(p[1] for p in members) / len(members),
            )
        for bi, members in buckets.items():
            pt, pv = anchors[bi - 1]
            nt, nv = anchors.get(bi + 1, anchors[b] if bi + 1 == b else None)
            best = max(
                members,
                key=lambda p: (
                    abs((pt - nt) * (p[1] - pv) - (pt - p[0]) * (nv - pv)),
                    -p[0], -p[1],
                ),
            )
            out.add(best)
        return out

    want = set()
    for k in ("a", "b"):
        pts = [(t, v) for kk, t, v in rows if kk == k]
        want |= {(k, t, v) for t, v in ref_one(pts, n_out)}
    assert got == want
    # per-key sizes: dense key decimated to exactly n_out, small key whole
    from collections import Counter

    sizes = Counter(k for k, _, _ in got)
    assert sizes["a"] == n_out and sizes["b"] == 5
    with _pt.raises(ValueError, match="n_out"):
        lttb_downsample(df, ["k"], "t", "value", 2)


def test_attribute_conversions_models_and_edges(spark):
    """Attribution kernel pins: half-open lookback (touch AT the
    conversion counts, touch at conversion - lookback does not),
    last/first tie on equal timestamps breaks to the smaller touch
    type, linear splits 1/n, unattributed conversions emit one NULL
    row with credit 1.0, and the guards refuse."""
    import pytest as _pt

    from process_alphafold3_outputs_spark.operators.funnel import (
        attribute_conversions,
    )

    rows = [
        # user 1: touches at 0 (outside: == conv-100), 10, 50, and a
        # tie pair at 90; conversion at 100
        (1, 0, "click"), (1, 10, "view"), (1, 50, "click"),
        (1, 90, "view"), (1, 90, "click"), (1, 100, "purchase"),
        # user 2: conversion with NO touch in window
        (2, 500, "purchase"), (2, 100, "click"),
        # user 3: touch exactly AT the conversion instant counts
        (3, 200, "view"), (3, 200, "purchase"),
    ]
    df = spark.createDataFrame(rows, "u long, t long, event_type string")

    def run(model):
        return {
            (r.user, r.conversion_ts, r.touch_type, r.touch_ts): r.credit
            for r in attribute_conversions(
                df, "u", "t", "event_type", ["click", "view"],
                "purchase", 100, model=model,
            ).collect()
        }

    last = run("last")
    # tie at t=90: click < view lexicographically
    assert last[(1, 100, "click", 90)] == 1.0
    assert last[(2, 500, None, None)] == 1.0
    assert last[(3, 200, "view", 200)] == 1.0
    assert len(last) == 3
    first = run("first")
    # t=0 is EXCLUDED (> conv - lookback is strict): first is t=10
    assert first[(1, 100, "view", 10)] == 1.0
    linear = run("linear")
    # user 1 has 4 in-window touches -> 0.25 each
    assert linear[(1, 100, "view", 10)] == 0.25
    assert linear[(1, 100, "click", 90)] == 0.25
    assert linear[(2, 500, None, None)] == 1.0
    assert linear[(3, 200, "view", 200)] == 1.0
    with _pt.raises(ValueError, match="model"):
        run("u_shaped")
    with _pt.raises(ValueError, match="lookback"):
        attribute_conversions(
            df, "u", "t", "event_type", ["click"], "purchase", 0)
    with _pt.raises(ValueError, match="non-empty"):
        attribute_conversions(
            df, "u", "t", "event_type", [], "purchase", 10)
    with _pt.raises(ValueError, match="credit itself"):
        attribute_conversions(
            df, "u", "t", "event_type", ["purchase"], "purchase", 10)


def test_attribute_conversions_duplicate_ts_grain(spark):
    """Per-conversion-EVENT grain (r12 advice, medium): N duplicate
    conversions at one (user, ts) each get a FULL credit assignment —
    last/first emits N identical credited rows (not one), and linear
    counts each conversion's own touches so each conversion's credits
    sum to 1.0 (not 1/N)."""
    from process_alphafold3_outputs_spark.operators.funnel import (
        attribute_conversions,
    )

    rows = [
        # user 1: TWO purchases at t=100, two in-window touches
        (1, 10, "view"), (1, 50, "click"),
        (1, 100, "purchase"), (1, 100, "purchase"),
        # user 2: three purchases at t=9, no touches at all
        (2, 9, "purchase"), (2, 9, "purchase"), (2, 9, "purchase"),
    ]
    df = spark.createDataFrame(rows, "u long, t long, event_type string")

    def run(model):
        return sorted(
            (r.user, r.conversion_ts, r.touch_type, r.touch_ts, r.credit)
            for r in attribute_conversions(
                df, "u", "t", "event_type", ["click", "view"],
                "purchase", 100, model=model,
            ).collect()
        )

    # last: each duplicate conversion credits its own last touch
    assert run("last") == [
        (1, 100, "click", 50, 1.0), (1, 100, "click", 50, 1.0),
        (2, 9, None, None, 1.0), (2, 9, None, None, 1.0),
        (2, 9, None, None, 1.0),
    ]
    # linear: 2 touches per conversion -> 0.5 each, PER conversion
    # (4 credited rows for user 1, each conversion summing to 1.0)
    assert run("linear") == [
        (1, 100, "click", 50, 0.5), (1, 100, "click", 50, 0.5),
        (1, 100, "view", 10, 0.5), (1, 100, "view", 10, 0.5),
        (2, 9, None, None, 1.0), (2, 9, None, None, 1.0),
        (2, 9, None, None, 1.0),
    ]


def test_attribute_conversions_hot_user_guard(spark):
    """max_touches_per_conversion refuses loudly in-path when one
    conversion window holds more touches than the cap (the hot-user
    K x M blowup), and None disables the guard."""
    import pytest as _pt

    from process_alphafold3_outputs_spark.operators.funnel import (
        attribute_conversions,
    )

    rows = [(1, i, "click") for i in range(1, 6)] + [(1, 10, "purchase")]
    df = spark.createDataFrame(rows, "u long, t long, event_type string")
    args = (df, "u", "t", "event_type", ["click"], "purchase", 100)
    for model in ("last", "linear"):
        with _pt.raises(Exception, match="max_touches_per_conversion"):
            attribute_conversions(
                *args, model=model, max_touches_per_conversion=4
            ).collect()
        got = attribute_conversions(
            *args, model=model, max_touches_per_conversion=None
        ).collect()
        assert len(got) == (1 if model == "last" else 5)
    # cap == count passes
    assert (
        attribute_conversions(
            *args, model="linear", max_touches_per_conversion=5
        ).count()
        == 5
    )


def test_trend_ols_matches_numpy_and_degenerates(spark):
    """trend_ols == numpy lstsq on integer points (r2 via corrcoef²);
    degenerate keys stay present with NULL fits; NULL x/y excluded;
    the fit is ONE keyed aggregation (single Exchange, no Window)."""
    import numpy as np
    import pytest as _pt

    from process_alphafold3_outputs_spark.operators.temporal import trend_ols

    pts = {
        "up": [(0, 10), (1, 13), (2, 15), (3, 20), (4, 21)],
        "noisy": [(2, 7), (5, 3), (9, 11), (11, 2), (20, 9), (21, 14)],
        "flat_y": [(0, 5), (1, 5), (2, 5)],
        "const_x": [(7, 1), (7, 9), (7, 4)],
        "single": [(3, 8)],
    }
    rows = [(k, x, y) for k, v in pts.items() for x, y in v]
    rows.append(("up", None, 99))
    rows.append(("up", 99, None))
    df = spark.createDataFrame(rows, "k string, x long, y long")
    out = {r.k: r for r in trend_ols(df, ["k"], "x", "y").collect()}
    assert set(out) == set(pts)

    def r6(v):
        import math

        return math.floor(v * 1e6 + 0.5) / 1e6

    for k in ("up", "noisy"):
        xs = np.array([p[0] for p in pts[k]], dtype=float)
        ys = np.array([p[1] for p in pts[k]], dtype=float)
        slope, intercept = np.polyfit(xs, ys, 1)
        r2 = float(np.corrcoef(xs, ys)[0, 1]) ** 2
        assert out[k].n == len(pts[k])
        assert out[k].slope == _pt.approx(r6(slope), abs=2e-6)
        assert out[k].intercept == _pt.approx(r6(intercept), abs=2e-6)
        assert out[k].r2 == _pt.approx(r6(r2), abs=2e-6)
    # constant y: exact zero slope, r2 undefined
    assert (out["flat_y"].slope, out["flat_y"].intercept,
            out["flat_y"].r2) == (0.0, 5.0, None)
    # constant x / single point: no defined fit, row still present
    for k in ("const_x", "single"):
        assert (out[k].slope, out[k].intercept, out[k].r2) == (
            None, None, None)
    with _pt.raises(ValueError, match="keys"):
        trend_ols(df, [], "x", "y")
    # plan: one Exchange (the key shuffle), no Window
    plan = trend_ols(df, ["k"], "x", "y")._jdf.queryExecution(
    ).explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted")
    )
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1 and "Window" not in tree


def test_top_paths_hand_computed(spark):
    """top_paths (r13): time-then-tiebreak ordering, short users keep
    their full path, deterministic (n DESC, path ASC) top-k ties, and
    the early rn filter truncates at n_steps."""
    import pytest as _pt

    from process_alphafold3_outputs_spark.operators.funnel import top_paths

    rows = [
        # user 1: a(1) b(2) c(3) d(4) -> truncated to a>b>c at n=3
        (1, 1, 10, "a"), (1, 2, 11, "b"), (1, 3, 12, "c"), (1, 4, 13, "d"),
        # user 2: same opening path, tie at t=1 broken by event_id
        (2, 1, 21, "a"), (2, 1, 22, "b"), (2, 2, 23, "c"),
        # user 3: short user keeps full 2-step path
        (3, 5, 30, "b"), (3, 6, 31, "a"),
        # user 4: single event
        (4, 9, 40, "c"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, t long, event_id long, event_type string"
    )
    from pyspark.sql import functions as F

    got = [
        (r.path, r.n_users, r.rank)
        for r in top_paths(df, 3, 10, t=F.col("t")).collect()
    ]
    assert got == [
        ("a>b>c", 2, 1), ("b>a", 1, 2), ("c", 1, 3),
    ]
    # k cuts deterministically on the (n DESC, path ASC) order
    assert [
        (r.path, r.rank)
        for r in top_paths(df, 3, 2, t=F.col("t")).collect()
    ] == [("a>b>c", 1), ("b>a", 2)]
    with _pt.raises(ValueError, match="n_steps"):
        top_paths(df, 0, 5, t=F.col("t"))
    with _pt.raises(ValueError, match="k must"):
        top_paths(df, 3, 0, t=F.col("t"))
    # plan: the top-k compiles to TakeOrderedAndProject (parallel
    # partial top-k over the user-bounded path table), never a global
    # row_number window over ALL paths (the ivf_centroids lesson) —
    # the only Window ops are the per-user rank and the k-row ranking
    plan = top_paths(df, 3, 2, t=F.col("t"))._jdf.queryExecution(
    ).explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted")
    )
    assert "TakeOrderedAndProject" in plan


def test_watch_events_trend_stream_equals_batch_and_replays(spark, tmp_path):
    """Two epochs through the 25th watcher == the batch trend_ols over
    the union (EXACT — mergeable counts, moment-only fit; no arrival-
    order caveat), a crash-replayed epoch is idempotent, and the
    bucket-cardinality guard refuses a too-fine width."""
    import os

    import pytest as _pt

    from process_alphafold3_outputs_spark.operators.temporal import trend_ols
    from process_alphafold3_outputs_spark.streaming.ingest import (
        _trend_process_batch,
        watch_events_trend,
    )
    from pyspark.sql import functions as F

    schema = "k string, t long"
    inbox = str(tmp_path / "inbox")
    out = str(tmp_path / "fits")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    # epoch 1 delivers OUT-OF-ORDER history (earlier buckets than
    # epoch 0) — the fit must still equal the batch over the union
    e0 = [("a", 25), ("a", 26), ("a", 35), ("b", 21)]
    e1 = [("a", 5), ("a", 15), ("a", 36), ("b", 8), ("b", 9)]
    spark.createDataFrame(e0, schema).coalesce(1).write.mode(
        "append").parquet(inbox)
    q = watch_events_trend(
        spark, inbox, out, state, ckpt, schema, ["k"], "t", 10)
    try:
        q.processAllAvailable()
        spark.createDataFrame(e1, schema).coalesce(1).write.mode(
            "append").parquet(inbox)
        q.processAllAvailable()
    finally:
        q.stop()

    def fits(path):
        return sorted(map(tuple, spark.read.parquet(path).select(
            "k", "n", "slope", "intercept", "r2").collect()))

    union = spark.createDataFrame(e0 + e1, schema)
    daily = (
        union.select("k", F.expr("t div 10").alias("x"))
        .groupBy("k", "x").agg(F.count(F.lit(1)).alias("y"))
    )
    want = sorted(map(tuple, trend_ols(daily, ["k"], "x", "y").select(
        "k", "n", "slope", "intercept", "r2").collect()))
    got = fits(os.path.join(out, "epoch_id=1"))
    assert got == want
    # crash replay of epoch 1: identical output (reads pre-epoch state)
    _trend_process_batch(
        spark.createDataFrame(e1, schema), 1, state, out, ["k"], "t",
        10, 100_000)
    assert fits(os.path.join(out, "epoch_id=1")) == want
    # guard: width=1 over the same history exceeds a tiny cap, loudly
    with _pt.raises(ValueError, match="max_buckets"):
        _trend_process_batch(
            spark.createDataFrame(e0 + e1, schema), 0,
            str(tmp_path / "s2"), str(tmp_path / "o2"), ["k"], "t",
            1, 3)
    with _pt.raises(ValueError, match="width"):
        watch_events_trend(
            spark, inbox, out, state, ckpt, schema, ["k"], "t", 0)
    with _pt.raises(ValueError, match="keys"):
        watch_events_trend(
            spark, inbox, out, state, ckpt, schema, [], "t", 10)


def test_trend_theil_sen_robust_vs_numpy_and_guards(spark):
    """Theil-Sen (r13): matches the numpy median-of-pairwise-slopes
    reference; shrugs off the outlier that drags OLS; degenerate keys
    present with NULL fits; the max_points guard refuses an oversized
    key loudly."""
    import numpy as np
    import pytest as _pt

    from process_alphafold3_outputs_spark.operators.temporal import (
        trend_ols,
        trend_theil_sen,
    )

    clean = [(x, 10 + 3 * x) for x in range(10)]
    spiked = [(x, y) for x, y in clean[:9]] + [(9, 500)]  # one bot day
    rows = (
        [("clean", x, y) for x, y in clean]
        + [("spiked", x, y) for x, y in spiked]
        + [("single", 4, 7), ("const_x", 2, 1), ("const_x", 2, 9)]
    )
    df = spark.createDataFrame(rows, "k string, x long, y long")
    out = {r.k: r for r in trend_theil_sen(df, ["k"], "x", "y").collect()}

    def ts_ref(pts):
        slopes = [
            (y2 - y1) / (x2 - x1)
            for i, (x1, y1) in enumerate(pts)
            for (x2, y2) in pts[i + 1:]
            if x2 != x1
        ]
        s = float(np.median(slopes))
        icept = float(np.median([y - s * x for x, y in pts]))
        import math

        r6 = lambda v: math.floor(v * 1e6 + 0.5) / 1e6  # noqa: E731
        return r6(s), r6(icept)

    assert (out["clean"].slope, out["clean"].intercept) == (3.0, 10.0)
    assert (out["spiked"].slope, out["spiked"].intercept) == ts_ref(spiked)
    # the spike barely moves Theil-Sen but wrecks OLS
    assert out["spiked"].slope == _pt.approx(3.0, abs=1.0)
    ols = {r.k: r for r in trend_ols(df, ["k"], "x", "y").collect()}
    assert ols["spiked"].slope > 20
    # degenerate keys: present, NULL fits
    for k in ("single", "const_x"):
        assert (out[k].slope, out[k].intercept) == (None, None)
    assert out["const_x"].n == 2
    # guard: the eager point-table materialization (the gapfill
    # discipline) refuses an oversized key loudly, never silently
    with _pt.raises(Exception, match="max_points"):
        trend_theil_sen(df, ["k"], "x", "y", max_points=5).collect()
    with _pt.raises(ValueError, match="keys"):
        trend_theil_sen(df, [], "x", "y")
    with _pt.raises(ValueError, match="max_points"):
        trend_theil_sen(df, ["k"], "x", "y", max_points=1)


def test_trend_mann_kendall_reference_and_guards(spark):
    """Mann-Kendall (r13): hand/reference-computed S, tie-corrected
    var, continuity-corrected z, 5% classification; all-tied-y and
    single-point keys present with NULL z/trend; duplicate (key, x)
    refused in-path; monotone key classifies 'increasing'."""
    import math

    import pytest as _pt

    from process_alphafold3_outputs_spark.operators.temporal import (
        trend_mann_kendall,
    )

    rows = (
        # strictly increasing 10-pointer: S = 45, no ties
        [("up", x, x * 2) for x in range(10)]
        # classic tie case: y = 1,2,2,3 -> S = 5; tie group t=2
        + [("tied", 0, 1), ("tied", 1, 2), ("tied", 2, 2), ("tied", 3, 3)]
        # all y equal: var 0 -> NULL z/trend
        + [("flat", x, 7) for x in range(4)]
        + [("single", 0, 3)]
    )
    df = spark.createDataFrame(rows, "k string, x long, y long")
    out = {r.k: r for r in
           trend_mann_kendall(df, ["k"], "x", "y").collect()}

    def r6(v):
        return math.floor(v * 1e6 + 0.5) / 1e6

    up = out["up"]
    var_up = 10 * 9 * 25 / 18.0
    assert (up.n, up.s_stat) == (10, 45)
    assert up.var_s == r6(var_up)
    assert up.z == r6(44 / math.sqrt(var_up)) and up.trend == "increasing"
    t = out["tied"]
    # var = [4*3*13 - 2*1*9]/18 = (156-18)/18
    assert (t.n, t.s_stat) == (4, 5)
    assert t.var_s == r6(138 / 18.0)
    assert t.z == r6(4 / math.sqrt(138 / 18.0)) and t.trend == "no_trend"
    for k in ("flat", "single"):
        assert (out[k].z, out[k].trend) == (None, None)
    assert out["flat"].s_stat == 0
    dup = spark.createDataFrame(
        [("a", 1, 2), ("a", 1, 3)], "k string, x long, y long"
    )
    with _pt.raises(Exception, match="share one"):
        trend_mann_kendall(dup, ["k"], "x", "y").collect()
    with _pt.raises(ValueError, match="keys"):
        trend_mann_kendall(df, [], "x", "y")


def test_trend_changepoint_hand_computed_and_guards(spark):
    """CUSUM changepoint (r13): a planted level shift is localized to
    the exact boundary bucket; flat series report a deterministic
    smallest-x tie with cusum_max 0; n < 2 keys present with NULLs;
    duplicate (key, x) refused in-path."""
    import pytest as _pt

    from process_alphafold3_outputs_spark.operators.temporal import (
        trend_changepoint,
    )

    rows = (
        # level shift after x=4: 10,10,10,10,10 then 50,50,50,50,50
        [("shift", x, 10) for x in range(5)]
        + [("shift", x, 50) for x in range(5, 10)]
        # flat: all stats 0 -> tie broken to smallest x
        + [("flat", x, 7) for x in range(4)]
        + [("single", 3, 9)]
    )
    df = spark.createDataFrame(rows, "k string, x long, y long")
    out = {r.k: r for r in
           trend_changepoint(df, ["k"], "x", "y").collect()}
    s = out["shift"]
    # S_i peaks at i=5 (x=4): |10*50 - 5*300|/10 = 100.0
    assert (s.n, s.cp_x, s.cusum_max) == (10, 4, 100.0)
    assert (out["flat"].cp_x, out["flat"].cusum_max) == (0, 0.0)
    assert (out["single"].cp_x, out["single"].cusum_max) == (None, None)
    dup = spark.createDataFrame(
        [("a", 1, 2), ("a", 1, 3)], "k string, x long, y long"
    )
    with _pt.raises(Exception, match="share one"):
        trend_changepoint(dup, ["k"], "x", "y").collect()
    with _pt.raises(ValueError, match="keys"):
        trend_changepoint(df, [], "x", "y")


def test_conversion_lag_hand_computed(spark):
    """conversion_lag (r14): last-touch lag per channel with exact
    type-1 quantiles on the (channel, lag) grain — hand-computed
    channels, the tie-to-smallest-type rule, the unattributed NULL
    row, and the lower-median/p90 integer picks on a 0..9 lag fan."""
    from process_alphafold3_outputs_spark.operators.funnel import (
        conversion_lag,
    )

    rows = (
        # user 1: click@100, view@150, purchase@200 -> view lag 50
        [(1, 100, "click"), (1, 150, "view"), (1, 200, "purchase")]
        # user 2: click@90, purchase@100 -> click lag 10
        + [(2, 90, "click"), (2, 100, "purchase")]
        # user 3: unattributed purchase
        + [(3, 500, "purchase")]
        # user 4: click/view tie at 1000 -> smallest type wins: click, lag 10
        + [(4, 1000, "click"), (4, 1000, "view"), (4, 1010, "purchase")]
    )
    df = spark.createDataFrame(rows, "user_id long, t long, event_type string")
    out = {
        r.touch_type: r
        for r in conversion_lag(
            df, "user_id", "t", "event_type",
            ["click", "view"], "purchase", 86400,
        ).collect()
    }
    assert set(out) == {"click", "view", None}
    c = out["click"]
    assert (c.n_conversions, c.mean_lag_s, c.p50_lag_s, c.p90_lag_s) == (
        2, 10.0, 10, 10
    )
    v = out["view"]
    assert (v.n_conversions, v.p50_lag_s, v.p90_lag_s) == (1, 50, 50)
    u = out[None]
    assert (u.n_conversions, u.mean_lag_s, u.p50_lag_s, u.p90_lag_s) == (
        1, None, None, None
    )
    # 10 conversions with lags 0..9 on one channel: lower median 4, p90 8
    fan = [(100 + i, 1000, "click") for i in range(10)] + [
        (100 + i, 1000 + i, "purchase") for i in range(10)
    ]
    df2 = spark.createDataFrame(
        fan, "user_id long, t long, event_type string"
    )
    r = conversion_lag(
        df2, "user_id", "t", "event_type", ["click"], "purchase", 86400
    ).collect()
    assert [(x.p50_lag_s, x.p90_lag_s, x.mean_lag_s) for x in r] == [
        (4, 8, 4.5)
    ]


def test_freshness_report_hand_computed(spark):
    """freshness_report (r14): derived watermark = max last_ts (the
    freshest key reads 0), explicit as_of override, NULL timestamps
    excluded, empty keys refused."""
    import pytest as _pt

    from process_alphafold3_outputs_spark.operators.temporal import (
        freshness_report,
    )

    rows = [("a", 100), ("a", 250), ("b", 40), ("b", 90), ("c", None)]
    df = spark.createDataFrame(rows, "k string, t long")
    out = {r.k: r for r in freshness_report(df, ["k"], "t").collect()}
    assert set(out) == {"a", "b"}  # all-NULL key c excluded
    a, b = out["a"], out["b"]
    assert (a.n_events, a.first_ts, a.last_ts, a.staleness_s) == (
        2, 100, 250, 0
    )
    assert (b.n_events, b.first_ts, b.last_ts, b.staleness_s) == (
        2, 40, 90, 160
    )
    # explicit as_of
    got = {
        r.k: r.staleness_s
        for r in freshness_report(df, ["k"], "t", as_of=1000).collect()
    }
    assert got == {"a": 750, "b": 910}
    with _pt.raises(ValueError, match="key_cols"):
        freshness_report(df, [], "t")


def test_watch_freshness_stream_equals_batch_and_replays(spark, tmp_path):
    """Two epochs through the 26th watcher == the batch
    freshness_report over the union (EXACT — mergeable count/min/max,
    shared finish; the late epoch-1 event only corrects first_ts),
    a crash-replayed epoch is idempotent, and the key-cardinality
    guard refuses an ID-like key."""
    import os

    import pytest as _pt

    from process_alphafold3_outputs_spark.operators.temporal import (
        freshness_report,
    )
    from process_alphafold3_outputs_spark.streaming.ingest import (
        _freshness_process_batch,
        watch_freshness,
    )

    schema = "k string, t long"
    inbox = str(tmp_path / "inbox")
    out = str(tmp_path / "fresh")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    e0 = [("a", 100), ("a", 250), ("b", 90)]
    e1 = [("a", 20), ("b", 300), ("c", 280)]  # late 20 lands in first_ts
    spark.createDataFrame(e0, schema).coalesce(1).write.mode(
        "append").parquet(inbox)
    q = watch_freshness(
        spark, inbox, out, state, ckpt, schema, ["k"], "t")
    try:
        q.processAllAvailable()
        spark.createDataFrame(e1, schema).coalesce(1).write.mode(
            "append").parquet(inbox)
        q.processAllAvailable()
    finally:
        q.stop()

    def rows(path):
        return sorted(map(tuple, spark.read.parquet(path).select(
            "k", "n_events", "first_ts", "last_ts", "staleness_s"
        ).collect()))

    union = spark.createDataFrame(e0 + e1, schema)
    want = sorted(map(tuple, freshness_report(
        union, ["k"], "t").collect()))
    got = rows(os.path.join(out, "epoch_id=1"))
    assert got == want
    assert ("a", 3, 20, 250, 50) in got  # late event corrected first_ts
    # crash replay of epoch 1: identical output
    _freshness_process_batch(
        spark.createDataFrame(e1, schema), 1, state, out, ["k"], "t",
        None, 1_000_000)
    assert rows(os.path.join(out, "epoch_id=1")) == want
    # ID-like key refused loudly
    with _pt.raises(ValueError, match="max_keys"):
        _freshness_process_batch(
            spark.createDataFrame(e0 + e1, schema), 0,
            str(tmp_path / "s2"), str(tmp_path / "o2"), ["k"], "t",
            None, 2)
    with _pt.raises(ValueError, match="keys"):
        watch_freshness(
            spark, inbox, out, state, ckpt, schema, [], "t")


def test_inter_event_profile_hand_computed_and_guard(spark):
    """inter_event_profile (r14): hand-computed gap moments (gaps
    [10,20] -> mean 15, var 25, B = -0.5), metronomic gaps -> B -1,
    single event -> NULL stats, all-duplicate timestamps -> B NULL
    (sigma+mean == 0), hot-user in-path refusal (lazy at plan build)."""
    import pytest as _pt

    from process_alphafold3_outputs_spark.operators.funnel import (
        inter_event_profile,
    )

    rows = (
        [(1, 0, 1), (1, 10, 2), (1, 30, 3)]       # gaps 10, 20
        + [(2, 100, 4)]                            # single event
        + [(3, 5, 5), (3, 5, 6), (3, 5, 7)]        # all-dup ts
        + [(4, 0, 8), (4, 10, 9), (4, 20, 10)]     # metronomic
    )
    df = spark.createDataFrame(rows, "user_id long, t long, event_id long")
    out = {
        r.user_id: r
        for r in inter_event_profile(df, "user_id", "t").collect()
    }
    a = out[1]
    assert (a.n_events, a.n_gaps) == (3, 2)
    assert (a.mean_gap_s, a.var_gap_s, a.burstiness) == (15.0, 25.0, -0.5)
    b = out[2]
    assert (b.n_gaps, b.mean_gap_s, b.burstiness) == (0, None, None)
    c = out[3]
    assert (c.mean_gap_s, c.var_gap_s, c.burstiness) == (0.0, 0.0, None)
    assert out[4].burstiness == -1.0
    # hot-user refusal is in-path: plan build fires zero jobs, action dies
    sc = spark.sparkContext
    sc.setJobGroup("iep-lazy", "plan build")
    plan = inter_event_profile(df, "user_id", "t", max_events_per_user=2)
    assert sc.statusTracker().getJobIdsForGroup("iep-lazy") == []
    sc.setJobGroup("", "")
    with _pt.raises(Exception, match="max_events_per_user=2"):
        plan.collect()
    # escape hatch
    assert (
        inter_event_profile(
            df, "user_id", "t", max_events_per_user=None
        ).count()
        == 4
    )


def test_survival_curve_hand_computed_and_guards(spark):
    """survival_curve (r14): hand-computed KM with one censored
    watermark user (S = .8, .6, .2, .2 — censoring holds the curve
    where a naive retention table would drop it to 0); all-die last
    bucket -> exact 0.0 (branched, never ln(0)); censor margin widens
    the censored set; bucket-count in-path refusal (lazy at plan
    build); bucket_s validation."""
    import pytest as _pt

    from process_alphafold3_outputs_spark.operators.funnel import (
        survival_curve,
    )

    rows = [
        (1, 0), (1, 5),      # lifetime 5  -> b0, dies
        (2, 0), (2, 15),     # b1, dies
        (3, 0), (3, 25),     # b2, dies
        (4, 0), (4, 29),     # b2, dies
        (5, 0), (5, 35),     # b3, last == watermark -> censored
    ]
    df = spark.createDataFrame(rows, "user_id long, t long")
    out = {r.bucket: r for r in survival_curve(df, "user_id", "t", 10).collect()}
    assert [(out[b].n_risk, out[b].n_deaths, out[b].n_censored)
            for b in (0, 1, 2, 3)] == [(5, 1, 0), (4, 1, 0), (3, 2, 0),
                                       (1, 0, 1)]
    assert [out[b].survival for b in (0, 1, 2, 3)] == [0.8, 0.6, 0.2, 0.2]
    assert out[1].t_lo_s == 10
    # everyone dies in the last bucket: exact 0.0, not ln(0) trouble
    dies = spark.createDataFrame(
        [(1, 0), (1, 5), (2, 0), (2, 6), (3, 0), (3, 25)],
        "user_id long, t long",
    )
    # watermark user 3 censored... force margin negative-free: margin 0
    # censors only user 3; users 1,2 die in b0; b2 has the censored one
    o = {r.bucket: r for r in survival_curve(dies, "user_id", "t", 10).collect()}
    assert o[0].survival == math_floor6(1 - 2 / 3)
    # a NEGATIVE margin disables censoring entirely: the last bucket's
    # whole risk set dies -> survival is branched to an exact 0.0
    z = {
        r.bucket: r
        for r in survival_curve(
            dies, "user_id", "t", 10, censor_margin_s=-1
        ).collect()
    }
    assert (z[2].n_deaths, z[2].n_risk, z[2].survival) == (1, 1, 0.0)
    assert z[0].survival == math_floor6(1 / 3)
    # margin widens censoring: margin 30 censors everyone -> no deaths
    allc = survival_curve(df, "user_id", "t", 10, censor_margin_s=100)
    assert all(r.n_deaths == 0 and r.survival == 1.0 for r in allc.collect())
    # counted in-path refusal, lazy at plan build
    sc = spark.sparkContext
    sc.setJobGroup("km-lazy", "plan build")
    plan = survival_curve(df, "user_id", "t", 10, max_buckets=2)
    assert sc.statusTracker().getJobIdsForGroup("km-lazy") == []
    sc.setJobGroup("", "")
    with _pt.raises(Exception, match="max_buckets=2"):
        plan.collect()
    with _pt.raises(ValueError, match="bucket_s"):
        survival_curve(df, "user_id", "t", 0)


def math_floor6(v):
    import math

    return math.floor(v * 1e6 + 0.5) / 1e6


def test_period_over_period_gap_correct(spark):
    """period_over_period (r14): the baseline is bucket x−lag EXACTLY
    — a gap yields NULL prev (a window lag would silently compare to
    the previous OCCUPIED bucket); hand-computed deltas/pct; zero
    baseline distinct from missing; negative-epoch floor bucketing."""
    import pytest as _pt

    from process_alphafold3_outputs_spark.operators.temporal import (
        period_over_period,
    )

    # key a: buckets 0 (2 events), 1 (3), 3 (6) — bucket 2 is a gap
    rows = ([("a", 5)] * 2 + [("a", 15)] * 3 + [("a", 35)] * 6
            + [("b", 5)])
    df = spark.createDataFrame(rows, "k string, t long")
    out = {
        (r.k, r.x): r
        for r in period_over_period(df, ["k"], "t", 10).collect()
    }
    assert out[("a", 1)].y_prev == 2
    assert out[("a", 1)].delta == 1
    assert out[("a", 1)].pct_change == 0.5
    # bucket 3's baseline is bucket 2 — a GAP -> NULL, not bucket 1
    assert out[("a", 3)].y_prev is None
    assert out[("a", 3)].pct_change is None
    assert out[("a", 0)].y_prev is None  # no history
    assert out[("b", 0)].y == 1
    # negative epochs floor-bucket (pre-1970): -5 -> bucket -1
    neg = spark.createDataFrame(
        [("a", -5), ("a", 5)], "k string, t long"
    )
    o = {r.x: r for r in period_over_period(neg, ["k"], "t", 10).collect()}
    assert set(o) == {-1, 0} and o[0].y_prev == 1
    with _pt.raises(ValueError, match="lag_periods"):
        period_over_period(df, ["k"], "t", 10, 0)
