"""Shared operator utilities."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame


def sql_statement(
    ctes: list[tuple[str, str]], select: str, args: dict, **tables: DataFrame
) -> DataFrame:
    """ONE ``spark.sql`` statement over shared SQL fragments: each input
    DataFrame in ``tables`` becomes a CTE of its own name, then the
    fragment CTEs ``ctes`` (name, body) in order, then ``select``.

    Fragments read their inputs by those fixed relation names, so one
    fragment text serves every composition. Values bind through the named
    parameter markers in ``args`` (never spliced into the text), so the
    text depends only on the query's shape. Catalyst analyses the whole
    statement in one call — a few dozen py4j round trips, where the
    equivalent DataFrame-API chain pays one analysis per call. Each value
    becomes its literal Column through one JVM ``lit`` call (``F.lit``
    would re-resolve the JVM function per value, three round trips)."""
    spark = next(iter(tables.values())).sparkSession
    lit = getattr(spark._jvm, "org.apache.spark.sql.functions").lit
    defs = [f"{n} AS (SELECT * FROM {{{n}}})" for n in tables]
    defs += [f"{n} AS ({body})" for n, body in ctes]
    return spark.sql(
        "WITH " + ",\n".join(defs) + "\n" + select,
        args={k: Column(lit(v)) for k, v in args.items()},
        **tables,
    )


def spread(df: DataFrame, *key_cols: str) -> DataFrame:
    """Repartition a too-coarsely-partitioned input so CPU-heavy
    expression pipelines (md5 shingling, bit-voting, dot products) use
    every core.

    Fires only in local mode, where the driver test files are single
    row-group parquet (unsplittable → the whole pipeline would run on
    one core). On a real cluster a 100 TB scan already arrives in
    thousands of partitions, and master != local makes this a no-op —
    no gratuitous shuffle of the big table. (Deliberately NOT
    implemented via df.rdd.getNumPartitions(): materialising the RDD
    lineage defeats whole-stage codegen and costs more than it saves.)"""
    spark = df.sparkSession
    if not spark.sparkContext.master.startswith("local"):
        return df
    target = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    return df.repartition(target, *key_cols) if key_cols else df.repartition(target)


def two_phase_agg(df, keys: list[str], value_col: str, n_salts: int = 16):
    """Skew-safe aggregation: salt the grouping key, partially aggregate
    per (salt, keys), then finalize per keys. Heavy-hitter keys (a few
    keys carrying most rows) stop bottlenecking one reducer — each hot
    key's rows split across ``n_salts`` partial groups.

    Partial sums/counts compose exactly; avg is derived at the end.
    (AQE's skew-join handling covers joins; this covers aggregations.)
    """
    from pyspark.sql import functions as F

    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(*keys, F.monotonically_increasing_id()), F.lit(n_salts))
    )
    partial = salted.groupBy(*keys, "_salt").agg(
        F.sum(value_col).alias("_psum"), F.count(F.lit(1)).alias("_pcnt")
    )
    return partial.groupBy(*keys).agg(
        F.sum("_psum").alias("total"),
        F.sum("_pcnt").alias("n_rows"),
    )


def skew_salted_join(
    big: "DataFrame",
    small: "DataFrame",
    keys: list[str],
    n_salts: int = 16,
    how: str = "inner",
) -> "DataFrame":
    """Join with identical results to ``big.join(small, keys, how)``
    but with every hot key's rows split across ``n_salts`` partitions —
    the join-side twin of :func:`two_phase_agg` for when a handful of
    keys carry most of the big side and even AQE's skew splitting
    leaves stragglers (AQE splits a skewed PARTITION; a single giant
    KEY still lands in one sort-merge group).

    Mechanics: the big side gets a per-row salt (row-hash, result-
    neutral — the salt is part of the join key only to spread the
    shuffle); the small side is replicated ``n_salts``× so every
    (key, salt) finds its match. Small-side shuffle volume multiplies
    by n_salts — use for genuinely small-to-medium right sides (a
    broadcast join needs no salting at all; this covers the
    too-big-to-broadcast, skewed-key middle ground).

    ``how``: inner/left joins only (semantics of right/outer joins
    change under replication)."""
    from pyspark.sql import functions as F

    if how not in ("inner", "left"):
        raise ValueError(f"skew_salted_join supports inner/left, got {how!r}")
    big_s = big.withColumn(
        "_salt",
        F.pmod(
            F.xxhash64(*keys, F.monotonically_increasing_id()), F.lit(n_salts)
        ),
    )
    small_s = small.withColumn(
        "_salt",
        F.explode(F.sequence(F.lit(0).cast("long"), F.lit(n_salts - 1).cast("long"))),
    )
    return big_s.join(small_s, [*keys, "_salt"], how).drop("_salt")


def skew_report(
    df: "DataFrame",
    keys: list[str],
    top_k: int = 10,
    n_partitions: int = 32,
) -> "DataFrame":
    """(keys..., cnt, share, rank, n_rows, n_keys, imbalance,
    recommended_salts) — the pre-flight SKEW diagnostic for a planned
    groupBy/join on ``keys``: the ``top_k`` hottest key tuples with
    their row share, plus the global figures that decide the physical
    strategy BEFORE the 100 TB shuffle runs: ``imbalance`` =
    hottest-key count / mean key count (1.0 == perfectly uniform), and
    ``recommended_salts`` = ceil(hottest · n_partitions / n_rows) —
    the minimum split factor under which the hottest key no longer
    exceeds an average reducer's row budget (1 == no salting needed).
    Feed it :func:`two_phase_agg`'s / :func:`skew_salted_join`'s
    ``n_salts``. Note the recommendation also fires for UNIFORM but
    LOW-CARDINALITY keys (n_keys < n_partitions): even with zero skew,
    that shuffle idles most reducers, and salting is the same fix.

    One key-grouped aggregation (map-side combine; output bounded by
    key cardinality), one 3-long-column global roll-up of THAT table,
    and a TakeOrderedAndProject top-k — corpus rows never reach the
    driver or the sort. Exact integer counts; ratios rounded once —
    bit-reproducible in ANSI SQL."""
    from pyspark.sql import Window, functions as F

    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"))
    stats = counts.agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.max("cnt").cast("long").alias("_max_cnt"),
    )
    top = counts.orderBy(F.desc("cnt"), *keys).limit(top_k)
    w = Window.orderBy(F.desc("cnt"), *keys)
    return (
        top.crossJoin(F.broadcast(stats))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .select(
            *keys,
            F.col("cnt").cast("long").alias("cnt"),
            F.round(F.col("cnt") / F.col("n_rows"), 6).alias("share"),
            "rank",
            "n_rows",
            "n_keys",
            F.round(
                F.col("_max_cnt") * F.col("n_keys") / F.col("n_rows"), 4
            ).alias("imbalance"),
            F.greatest(
                F.lit(1).cast("long"),
                F.ceil(
                    F.col("_max_cnt") * F.lit(int(n_partitions))
                    / F.col("n_rows")
                ),
            ).cast("long").alias("recommended_salts"),
        )
    )
