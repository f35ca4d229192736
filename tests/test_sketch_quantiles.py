"""Fixed-bin histogram quantile sketch: mergeability, error bound,
edge clamping."""

from __future__ import annotations

import numpy as np

from process_alphafold3_outputs_spark.operators.sketches import (
    histogram_quantiles,
    histogram_sketch_quantiles,
)
from pyspark.sql import functions as F

LO, HI, BINS = 0.0, 100.0, 50


def _df(spark, vals, g="a"):
    return spark.createDataFrame(
        [(g, float(v)) for v in vals], "g string, v double"
    )


def test_merged_shipment_sketches_equal_full_sketch(spark):
    rng = np.random.RandomState(7)
    a, b = rng.uniform(0, 100, 400), rng.uniform(0, 100, 300)
    full = histogram_quantiles(
        _df(spark, np.concatenate([a, b])), "g", "v", LO, HI, BINS
    ).collect()

    def hist(vals):
        bin_col = F.least(
            F.greatest(F.floor((F.col("v") - LO) / ((HI - LO) / BINS)), F.lit(0)),
            F.lit(BINS - 1),
        ).cast("int")
        return _df(spark, vals).groupBy("g", bin_col.alias("bin")).agg(
            F.count(F.lit(1)).alias("cnt")
        )

    # merge = ADD BIN COUNTS across shipments, then read off — no raw
    # data rescanned
    merged = (
        hist(a).unionByName(hist(b))
        .groupBy("g", "bin").agg(F.sum("cnt").alias("cnt"))
    )
    got = histogram_sketch_quantiles(merged, "g", LO, HI, BINS).collect()
    assert sorted((r.q, r.approx) for r in got) == sorted(
        (r.q, r.approx) for r in full
    )


def test_error_bounded_by_bin_width(spark):
    rng = np.random.RandomState(3)
    vals = rng.uniform(0, 100, 2000)
    got = {
        r.q: r.approx
        for r in histogram_quantiles(
            _df(spark, vals), "g", "v", LO, HI, BINS, qs=(0.1, 0.5, 0.9)
        ).collect()
    }
    width = (HI - LO) / BINS
    for q in (0.1, 0.5, 0.9):
        exact = float(np.quantile(vals, q))
        assert abs(got[q] - exact) <= width, (q, got[q], exact)


def test_out_of_range_values_clamp_to_edge_bins(spark):
    # all mass below lo -> every quantile reads the first bin
    got = {
        r.q: r.approx
        for r in histogram_quantiles(
            _df(spark, [-50.0, -10.0, -1.0]), "g", "v", LO, HI, BINS
        ).collect()
    }
    width = (HI - LO) / BINS
    assert all(LO <= v <= LO + width for v in got.values())


def test_multiple_groups_independent(spark):
    df = _df(spark, [10.0] * 10, g="x").unionByName(
        _df(spark, [90.0] * 10, g="y")
    )
    got = {
        (r.g, r.q): r.approx
        for r in histogram_quantiles(df, "g", "v", LO, HI, BINS).collect()
    }
    assert got[("x", 0.5)] < 15 and got[("y", 0.5)] > 85


def test_hll_deterministic_error_band_and_determinism(spark):
    from process_alphafold3_outputs_spark.operators.sketches import (
        hll_deterministic,
    )

    for n in (500, 5000):
        df = spark.range(n).selectExpr("'g' as g", "id as v")
        got = hll_deterministic(df, "g", "v", m=256).collect()[0]
        assert abs(got.raw_est - n) / n < 0.15, (n, got.raw_est)
    # duplicates do not move the estimate (distinct semantics)
    base = spark.range(1000).selectExpr("'g' as g", "id as v")
    dup = base.unionAll(base).unionAll(base)
    a = hll_deterministic(base, "g", "v").collect()[0]
    b = hll_deterministic(dup, "g", "v").collect()[0]
    assert (a.raw_est, a.n_empty) == (b.raw_est, b.n_empty)


def test_hll_rejects_non_power_of_two_m(spark):
    import pytest as _pytest

    from process_alphafold3_outputs_spark.operators.sketches import (
        hll_deterministic,
    )

    df = spark.range(4).selectExpr("'g' as g", "id as v")
    with _pytest.raises(ValueError):
        hll_deterministic(df, "g", "v", m=100)


# -- skew-salted join (operators/util.py) ----------------------------------

def test_skew_salted_join_matches_plain_join(spark):
    from process_alphafold3_outputs_spark.operators.util import (
        skew_salted_join,
    )

    # skewed big side: key 1 carries 80% of rows
    big = spark.createDataFrame(
        [(1, i) for i in range(80)] + [(k, k * 100) for k in range(2, 22)],
        "k long, payload long",
    )
    small = spark.createDataFrame(
        [(k, f"dim{k}") for k in range(0, 15)], "k long, name string"
    )
    for how in ("inner", "left"):
        got = sorted(
            (r.k, r.payload, r.name)
            for r in skew_salted_join(big, small, ["k"], n_salts=4, how=how)
            .collect()
        )
        want = sorted(
            (r.k, r.payload, r.name)
            for r in big.join(small, ["k"], how).collect()
        )
        assert got == want, how


def test_skew_salted_join_rejects_outer(spark):
    import pytest as _pytest

    from process_alphafold3_outputs_spark.operators.util import (
        skew_salted_join,
    )

    df = spark.createDataFrame([(1, 2)], "k long, v long")
    with _pytest.raises(ValueError):
        skew_salted_join(df, df, ["k"], how="right")


def test_skew_salted_join_spreads_hot_key(spark):
    """The physical point: the join shuffles on (key, salt), so ONE hot
    key's rows land in several reduce partitions, where the plain
    sort-merge join puts them all in one."""
    from process_alphafold3_outputs_spark.operators.util import (
        skew_salted_join,
    )

    big = spark.createDataFrame(
        [(1, i) for i in range(400)] + [(2, 0)], "k long, payload long"
    )
    small = spark.createDataFrame([(1, "hot"), (2, "cold")], "k long, w string")

    def hot_partitions(df):
        return (
            df.filter(F.col("k") == 1)
            .select(F.spark_partition_id().alias("p"))
            .distinct()
            .count()
        )

    # a shuffled join with a fixed partition count: no broadcast, and no
    # AQE coalescing of the tiny reduce partitions into one
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "8",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        salted = skew_salted_join(big, small, ["k"], n_salts=8)
        assert hot_partitions(big.join(small, "k")) == 1
        assert hot_partitions(salted) > 1
        assert salted.count() == 401
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_null_values_excluded_from_binning(spark):
    # ADVICE r6 (low): NULLs previously landed in a NULL bin that
    # still counted toward `total` (skewed estimates) and sorted
    # differently across engines. Quantiles must be statistics of the
    # present values only.
    from process_alphafold3_outputs_spark.operators.sketches import (
        histogram_quantiles,
    )

    with_nulls = spark.createDataFrame(
        [("g", float(v)) for v in range(1, 101)] + [("g", None)] * 37,
        "g string, v double",
    )
    without = spark.createDataFrame(
        [("g", float(v)) for v in range(1, 101)], "g string, v double"
    )
    kw = dict(group_col="g", value_col="v", lo=0.0, hi=100.0, n_bins=10,
              qs=(0.5, 0.9))
    got = {(r.q, r.approx) for r in histogram_quantiles(with_nulls, **kw).collect()}
    want = {(r.q, r.approx) for r in histogram_quantiles(without, **kw).collect()}
    assert got == want and len(got) == 2


def test_hll_overlap_tracks_exact_intersection(spark):
    """Two groups with a known 50%-ish overlap: the sketch
    inclusion-exclusion lands within HLL error (~1.04/sqrt(m)) of the
    exact intersection, and the union sketch equals the sketch of the
    relabeled union (register max-merge == recompute, exactly)."""
    from pyspark.sql import functions as F

    from process_alphafold3_outputs_spark.operators.sketches import (
        hll_deterministic,
        hll_overlap,
    )

    rows = [("A", i) for i in range(2000)] + [
        ("B", i) for i in range(1000, 3000)
    ]
    df = spark.createDataFrame(rows, "g string, val long")
    out = hll_overlap(df, "g", "val", m=256).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.group_a, r.group_b) == ("A", "B")
    # exact: |A|=2000 |B|=2000 |A∪B|=3000 |A∩B|=1000; rel err ~6.5%/est
    assert abs(r.est_union - 3000) / 3000 < 0.2
    assert abs(r.est_overlap - 1000) / 1000 < 0.6  # differences amplify
    # max-merge == recompute: sketch the union as ONE group
    u = hll_deterministic(
        df.withColumn("g", F.lit("U")), "g", "val", m=256
    ).collect()[0]
    assert u.raw_est == r.est_union


def test_cms_join_size_overestimates_within_band(spark):
    """The inner-product estimate is ALWAYS >= the exact join size
    (collisions only add) and lands within the CMS error band
    (n_a*n_b/w per row, min over d rows) on a skewed join."""
    from process_alphafold3_outputs_spark.operators.sketches import (
        cms_join_size,
        cms_table,
    )

    # skewed: key 0 appears 50x on side A, 20x on side B
    a = spark.createDataFrame(
        [(0,)] * 50 + [(i,) for i in range(1, 200)], "k long"
    )
    b = spark.createDataFrame(
        [(0,)] * 20 + [(i,) for i in range(100, 400)], "k long"
    )
    exact = a.join(b, "k").count()
    est = cms_join_size(
        cms_table(a, "k", w=256, d=4), cms_table(b, "k", w=256, d=4)
    ).collect()[0].est_join_size
    assert est >= exact
    assert est <= exact + (a.count() * b.count()) / 256 + 1
    # disjoint key ranges: small (collision-only) estimate, far below
    # the overlapping case
    c = spark.createDataFrame([(i,) for i in range(10_000, 10_050)], "k long")
    est0 = cms_join_size(
        cms_table(a, "k", w=256, d=4), cms_table(c, "k", w=256, d=4)
    ).collect()[0].est_join_size
    assert est0 <= (a.count() * c.count()) / 256 + 1


def test_cms_join_size_empty_input_estimates_zero(spark):
    """An EMPTY source table sketches to an empty cell table; the
    estimate must be 0 (matching the SQL oracle's seeds-driven form),
    not a NULL from aggregating over zero hash rows."""
    from process_alphafold3_outputs_spark.operators.sketches import (
        cms_join_size,
        cms_table,
    )

    a = spark.createDataFrame([(i,) for i in range(50)], "k long")
    empty = spark.createDataFrame([], "k long")
    for ca, cb in [
        (cms_table(a, "k", w=64, d=4), cms_table(empty, "k", w=64, d=4)),
        (cms_table(empty, "k", w=64, d=4), cms_table(empty, "k", w=64, d=4)),
    ]:
        rows = cms_join_size(ca, cb, d=4).collect()
        assert len(rows) == 1
        assert rows[0].est_join_size == 0  # exactly 0, not None


def test_hll_overlap_clamped_nonnegative(spark):
    """Near-disjoint groups can estimate est_a + est_b < est_union from
    sketch noise; the overlap column is clamped at 0 so consumers never
    see a negative intersection."""
    from process_alphafold3_outputs_spark.operators.sketches import (
        hll_overlap,
    )

    # fully disjoint value ranges across three groups — any negative
    # pre-clamp estimate is pure sketch noise
    rows = (
        [("A", i) for i in range(500)]
        + [("B", i) for i in range(10_000, 10_500)]
        + [("C", i) for i in range(20_000, 20_500)]
    )
    df = spark.createDataFrame(rows, "g string, val long")
    out = hll_overlap(df, "g", "val", m=64).collect()
    assert len(out) == 3  # pairs emitted once, a < b
    for r in out:
        assert r.est_overlap >= 0.0
