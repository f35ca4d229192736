"""Driver-contract queries: every SURVEY §2 operator demonstrated on the
driver's parquet tables, each paired with an ANSI-SQL oracle that DuckDB
runs on the same data (FIXTURES.md §6 mapping).

Hash-stability rules applied throughout (the driver compares row count +
schema + order-insensitive value hash):
  - every computed column is aliased identically in Spark and SQL;
  - double aggregates are rounded (floating summation order differs
    between engines at the ulp level);
  - DuckDB ``sum(INTEGER)`` is HUGEINT — always CAST to BIGINT to match
    Spark's LONG;
  - timestamps are surfaced as epoch seconds (BIGINT, floor) — Spark
    ``cast(ts AS long)`` truncates, so the oracle uses ``floor(epoch())``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import event_seconds, load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLE: dict[str, str] = {}


def register(name: str, sql: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if sql is not None:
            _ORACLE[name] = sql
        return fn

    return deco


# --------------------------------------------------------------------------
# O13/O18-adjacent hash aggregation — TPC-H Q1 shape (pricing summary).
# --------------------------------------------------------------------------
@register(
    "pricing_summary",
    sql="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           round(sum(l_extendedprice), 2)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           round(avg(l_quantity), 4)                                        AS avg_qty,
           CAST(count(*) AS BIGINT)                                         AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
        F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.count(F.lit(1)).alias("count_order"),
    )


# --------------------------------------------------------------------------
# O5/O6 — conjunctive scalar screen (binder-screen shape) on orders.
# --------------------------------------------------------------------------
@register(
    "screen_filter",
    sql="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total
    FROM orders
    WHERE o_totalprice >= 50000.0 AND o_orderstatus = 'O'
          AND o_orderpriority <> '1-URGENT'
    """,
)
def screen_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        (F.col("o_totalprice") >= 50000.0)
        & (F.col("o_orderstatus") == "O")
        & (F.col("o_orderpriority") != "1-URGENT")
    ).select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total"))


# --------------------------------------------------------------------------
# O8 — array element predicate (chain_pair_pae_min[i][j] shape).
# --------------------------------------------------------------------------
@register(
    "array_element_screen",
    sql="""
    SELECT vec_id, label
    FROM embeddings
    WHERE embedding[1] < 0.0 AND label >= 5
    """,
)
def array_element_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return e.filter(
        (F.element_at("embedding", 1) < 0.0) & (F.col("label") >= 5)
    ).select("vec_id", "label")


# --------------------------------------------------------------------------
# O7/O12 — lookup with default (broadcast dim join + coalesce).
# --------------------------------------------------------------------------
@register(
    "lookup_default",
    sql="""
    SELECT n_nationkey, n_name, coalesce(r_name, 'UNKNOWN') AS region_name
    FROM nation LEFT JOIN region ON n_regionkey = r_regionkey
    """,
)
def lookup_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "left").select(
        "n_nationkey",
        "n_name",
        F.coalesce("r_name", F.lit("UNKNOWN")).alias("region_name"),
    )


# --------------------------------------------------------------------------
# O11/O14 — order-sensitive grouped string-agg (sequence assembly shape):
# collect_list is shuffle-nondeterministic, so sort_array(struct) first
# (SURVEY §7.2).
# --------------------------------------------------------------------------
@register(
    "ordered_concat",
    sql="""
    SELECT o_custkey,
           string_agg(o_orderpriority, '|' ORDER BY o_orderdate, o_orderkey) AS priority_seq
    FROM orders
    GROUP BY o_custkey
    """,
)
def ordered_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.concat_ws(
            "|",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("o_orderdate", "o_orderkey", "o_orderpriority")
                    )
                ),
                lambda s: s.o_orderpriority,
            ),
        ).alias("priority_seq")
    )


# --------------------------------------------------------------------------
# O13 — conditional sum (the AF3 token-length rule shape: +1 for AA,
# +atom_count otherwise).
# --------------------------------------------------------------------------
@register(
    "conditional_sum",
    sql="""
    SELECT l_orderkey,
           CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE l_linenumber END) AS BIGINT)
               AS token_length
    FROM lineitem
    GROUP BY l_orderkey
    """,
)
def conditional_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.sum(
            F.when(F.col("l_returnflag") == "R", 1).otherwise(F.col("l_linenumber"))
        ).alias("token_length")
    )


# --------------------------------------------------------------------------
# O16 — prefix-sum window (chain-offset shape). Global ordered window is
# fine for the 10-row supplier dim; the AF3 usage partitions by job.
# --------------------------------------------------------------------------
@register(
    "prefix_sum",
    sql="""
    SELECT s_suppkey,
           round(sum(s_acctbal) OVER (ORDER BY s_suppkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_acctbal
    FROM supplier
    """,
)
def prefix_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global running total over the small supplier DIM table — the
    demo shape for O16. The production kernel (chain_intervals) always
    partitions its window by ``job``; a corpus-sized global window
    would be the single-partition scale-killer the plan contracts
    forbid elsewhere."""
    s = load_table(spark, sf_dir, "supplier")
    w = Window.orderBy("s_suppkey").rowsBetween(Window.unboundedPreceding, 0)
    return s.select(
        "s_suppkey", F.round(F.sum("s_acctbal").over(w), 2).alias("running_acctbal")
    )


# --------------------------------------------------------------------------
# O21 — semi-join (interacting-residue restriction shape).
# --------------------------------------------------------------------------
@register(
    "semi_join",
    sql="""
    SELECT o_orderkey, o_orderstatus
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45.0)
    """,
)
def semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45.0)
    return o.join(li, o.o_orderkey == li.l_orderkey, "left_semi").select(
        "o_orderkey", "o_orderstatus"
    )


# --------------------------------------------------------------------------
# Anti-join — the "non-binder" complement (SURVEY §2.1 joins).
# --------------------------------------------------------------------------
@register(
    "anti_join",
    sql="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


# --------------------------------------------------------------------------
# O22 — distinct collection per group, sorted for determinism
# (contact-map shape), surfaced as a joined string for hash stability.
# --------------------------------------------------------------------------
@register(
    "collect_set_sorted",
    sql="""
    SELECT l_orderkey,
           array_to_string(list(DISTINCT l_suppkey ORDER BY l_suppkey), ',') AS suppkeys
    FROM lineitem
    GROUP BY l_orderkey
    """,
)
def collect_set_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.concat_ws(",", F.sort_array(F.collect_set("l_suppkey"))).alias("suppkeys")
    )


# --------------------------------------------------------------------------
# O25 + ranking — top-k per group (deterministic tiebreak on the key).
# --------------------------------------------------------------------------
@register(
    "topk_per_group",
    sql="""
    SELECT o_custkey, o_orderkey, CAST(rk AS INT) AS rk
    FROM (SELECT o_custkey, o_orderkey,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rk
          FROM orders)
    WHERE rk <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "rk")
    )


# --------------------------------------------------------------------------
# O26/O27 — group min/max "min-max" range formatting + 1-based substring.
# --------------------------------------------------------------------------
@register(
    "range_format",
    sql="""
    SELECT p_brand,
           CAST(min(p_size) AS VARCHAR) || '-' || CAST(max(p_size) AS VARCHAR) AS size_range,
           min(substr(p_name, 1, 8)) AS first_name_prefix
    FROM part
    GROUP BY p_brand
    """,
)
def range_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.groupBy("p_brand").agg(
        F.concat_ws("-", F.min("p_size"), F.max("p_size")).alias("size_range"),
        F.min(F.substring("p_name", 1, 8)).alias("first_name_prefix"),
    )


# --------------------------------------------------------------------------
# O17/O18 — range join against a broadcast interval dim + count-threshold
# HAVING (the PAE matrix-slice kernel shape).
# --------------------------------------------------------------------------
_INTERVALS = [(i, 50.0 * i, 50.0 * (i + 1)) for i in range(7)]


@register(
    "range_threshold",
    sql=f"""
    SELECT i.id AS interval_id,
           CAST(sum(CASE WHEN e.event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
           CAST(count(*) AS BIGINT) AS n_total
    FROM events e
    JOIN (VALUES {",".join(f"({i}, {lo}, {hi})" for i, lo, hi in _INTERVALS)}) i(id, lo, hi)
      ON e.value >= i.lo AND e.value < i.hi
    GROUP BY i.id
    HAVING sum(CASE WHEN e.event_type = 'error' THEN 1 ELSE 0 END) >= 3
    """,
)
def range_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    iv = spark.createDataFrame(_INTERVALS, "id INT, lo DOUBLE, hi DOUBLE")
    joined = e.join(
        F.broadcast(iv), (e.value >= iv.lo) & (e.value < iv.hi)
    )
    return (
        joined.groupBy(F.col("id").alias("interval_id"))
        .agg(
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("n_error"),
            F.count(F.lit(1)).alias("n_total"),
        )
        .filter(F.col("n_error") >= 3)
    )


# --------------------------------------------------------------------------
# O23 — gaps-and-islands sessionization of the events stream table.
# --------------------------------------------------------------------------
SESSION_GAP_S = 1800
SESSION_MIN_EVENTS = 3


@register(
    "sessionize",
    sql=f"""
    WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events),
    d AS (SELECT user_id, t,
                 CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
                           > {SESSION_GAP_S} THEN 1 ELSE 0 END AS brk
          FROM e),
    s AS (SELECT user_id, t,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY t
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
          FROM d)
    SELECT user_id, min(t) AS session_start,
           max(t) - min(t) AS duration_s,
           CAST(count(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, isl
    HAVING count(*) >= {SESSION_MIN_EVENTS}
    """,
)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.islands import island_ranges

    ev = load_table(spark, sf_dir, "events")
    e = ev.select("user_id", event_seconds(ev).alias("t"))
    # island_ranges = ONE window pass + hash agg (the old find_islands →
    # re-groupBy path evaluated a second window for per-island min/size)
    r = island_ranges(
        e, ["user_id"], "t", max_gap=SESSION_GAP_S, min_length=SESSION_MIN_EVENTS
    )
    return r.select(
        "user_id",
        F.col("island_min").alias("session_start"),
        (F.col("island_max") - F.col("island_min")).alias("duration_s"),
        F.col("island_size").alias("n_events"),
    )


# --------------------------------------------------------------------------
# Skew-safe two-phase (salted) aggregation — identical result to a plain
# GROUP BY; the physical plan splits each hot key across 16 partial groups.
# --------------------------------------------------------------------------
@register(
    "skew_safe_agg",
    sql="""
    SELECT l_returnflag, round(sum(l_extendedprice), 2) AS total,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def skew_safe_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.util import two_phase_agg

    li = load_table(spark, sf_dir, "lineitem")
    out = two_phase_agg(li, ["l_returnflag"], "l_extendedprice", n_salts=16)
    return out.select(
        "l_returnflag", F.round("total", 2).alias("total"), "n_rows"
    )


# --------------------------------------------------------------------------
# ROLLUP hierarchy aggregation (Spark freebie beyond the reference's
# surface; SURVEY §2.1 'engine gets them free from Spark')
# --------------------------------------------------------------------------
@register(
    "rollup_revenue",
    sql="""
    SELECT coalesce(r_name, 'ALL') AS region_name,
           coalesce(n_name, 'ALL') AS nation_name,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(sum(c_acctbal), 2) AS total_acctbal
    FROM customer
    JOIN nation ON n_nationkey = c_nationkey
    JOIN region ON r_regionkey = n_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    j = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return (
        j.rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation_name"),
            "n_customers",
            "total_acctbal",
        )
    )


# --------------------------------------------------------------------------
# CUBE aggregation — the full 2^k grouping-set lattice next to
# rollup_revenue's hierarchy (region × market segment: CUBE also emits
# the (ALL, segment) slices a ROLLUP never sees). Same Spark-freebie
# family (SURVEY §2.1).
# --------------------------------------------------------------------------
@register(
    "cube_customer_segments",
    sql="""
    SELECT coalesce(r_name, 'ALL') AS region_name,
           coalesce(c_mktsegment, 'ALL') AS segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(sum(c_acctbal), 2) AS total_acctbal
    FROM customer
    JOIN nation ON n_nationkey = c_nationkey
    JOIN region ON r_regionkey = n_regionkey
    GROUP BY CUBE (r_name, c_mktsegment)
    """,
)
def cube_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    j = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return (
        j.cube("r_name", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
            F.coalesce("c_mktsegment", F.lit("ALL")).alias("segment"),
            "n_customers",
            "total_acctbal",
        )
    )


# --------------------------------------------------------------------------
# exact + approximate distinct aggregation
# --------------------------------------------------------------------------
@register(
    "distinct_agg",
    sql="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_part
    FROM lineitem GROUP BY l_returnflag
    """,
)
def distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
    )


# --------------------------------------------------------------------------
# As-of (point-in-time) join — union-and-carry window kernel, validated
# against DuckDB's native ASOF JOIN.
# --------------------------------------------------------------------------
@register(
    "asof_join",
    sql="""
    WITH o AS (SELECT CAST(o_custkey % 15 AS BIGINT) AS user_id,
                      CAST(floor(epoch(o_orderdate)) AS BIGINT) AS t,
                      max(o_orderkey) AS last_orderkey
               FROM orders GROUP BY 1, 2),
    e AS (SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events)
    SELECT e.event_id, e.user_id, e.t, o.last_orderkey AS asof_last_orderkey
    FROM e ASOF LEFT JOIN o ON e.user_id = o.user_id AND e.t >= o.t
    """,
)
def asof_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import as_of_join

    o = (
        load_table(spark, sf_dir, "orders")
        .select(
            (F.col("o_custkey") % 15).alias("user_id"),
            F.col("o_orderdate").cast("timestamp").cast("long").alias("t"),
            "o_orderkey",
        )
        .groupBy("user_id", "t")
        .agg(F.max("o_orderkey").alias("last_orderkey"))
    )
    ev = load_table(spark, sf_dir, "events")
    e = ev.select("event_id", "user_id", event_seconds(ev).alias("t"))
    return as_of_join(e, o, ["user_id"], "t", "t", ["last_orderkey"])


# --------------------------------------------------------------------------
# Unpivot (stack) — wide measures to long form.
# --------------------------------------------------------------------------
@register(
    "unpivot_measures",
    sql="""
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS metric, round(p_retailprice, 2) AS value FROM part
    """,
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.selectExpr(
        "p_partkey",
        "stack(2, 'p_size', CAST(p_size AS DOUBLE), "
        "'p_retailprice', round(p_retailprice, 2)) AS (metric, value)",
    )


# --------------------------------------------------------------------------
# TPC-H Q5-shaped multi-join (join-order/broadcast selection demo).
# --------------------------------------------------------------------------
@register(
    "revenue_per_nation",
    sql="""
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lineitems
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name IS NOT NULL
    GROUP BY n_name
    """,
)
def revenue_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .filter(F.col("r_name").isNotNull())
    )
    return j.groupBy("n_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


# --------------------------------------------------------------------------
# exact interpolated median per group (percentile vs quantile_cont).
# --------------------------------------------------------------------------
@register(
    "median_price",
    sql="""
    SELECT p_brand, round(quantile_cont(p_retailprice, 0.5), 2) AS median_price,
           round(quantile_cont(p_retailprice, 0.9), 2) AS p90_price
    FROM part GROUP BY p_brand
    """,
)
def median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.groupBy("p_brand").agg(
        F.round(F.expr("percentile(p_retailprice, 0.5)"), 2).alias("median_price"),
        F.round(F.expr("percentile(p_retailprice, 0.9)"), 2).alias("p90_price"),
    )


# --------------------------------------------------------------------------
# RANGE-frame window: events per user in the trailing hour (value-range
# frame over epoch seconds, not row counts).
# --------------------------------------------------------------------------
@register(
    "range_frame_window",
    sql="""
    WITH e AS (SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t
               FROM events)
    SELECT event_id, user_id,
           CAST(count(*) OVER (PARTITION BY user_id ORDER BY t
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS n_last_hour
    FROM e
    """,
)
def range_frame_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    e = ev.select("event_id", "user_id", event_seconds(ev).alias("t"))
    w = W.partitionBy("user_id").orderBy("t").rangeBetween(-3600, 0)
    return e.select(
        "event_id", "user_id", F.count(F.lit(1)).over(w).alias("n_last_hour")
    )


# --------------------------------------------------------------------------
# Tumbling time window (F.window) — epoch-aligned 6-hour buckets.
# --------------------------------------------------------------------------
@register(
    "tumbling_window",
    sql="""
    WITH e AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t,
                      value FROM events)
    SELECT event_type,
           (t // 21600) * 21600 AS window_start,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total_value
    FROM e GROUP BY event_type, (t // 21600) * 21600
    """,
)
def tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        event_seconds(ev).cast("timestamp").alias("ts_t"),
        "value",
    )
    return (
        e.groupBy(F.window("ts_t", "6 hours"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "event_type",
            F.col("window.start").cast("long").alias("window_start"),
            "n_events",
            "total_value",
        )
    )


# --------------------------------------------------------------------------
# event funnel (view -> click -> purchase), greedy earliest-completion
# --------------------------------------------------------------------------
@register(
    "event_funnel",
    sql="""
    WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
                      event_type FROM events),
    s1 AS (SELECT user_id, min(t) AS t_1 FROM e
           WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT s1.user_id, s1.t_1, min(e.t) AS t_2
           FROM s1 LEFT JOIN e
             ON e.user_id = s1.user_id AND e.event_type = 'click'
            AND e.t > s1.t_1
           GROUP BY s1.user_id, s1.t_1),
    s3 AS (SELECT s2.user_id, s2.t_1, s2.t_2, min(e.t) AS t_3
           FROM s2 LEFT JOIN e
             ON e.user_id = s2.user_id AND e.event_type = 'purchase'
            AND e.t > s2.t_2
           GROUP BY s2.user_id, s2.t_1, s2.t_2)
    SELECT user_id, t_1, t_2, t_3,
           CAST(1 + CAST(t_2 IS NOT NULL AS INT)
                  + CAST(t_3 IS NOT NULL AS INT) AS INT) AS stage_reached
    FROM s3
    """,
)
def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import funnel

    ev = load_table(spark, sf_dir, "events")
    return funnel(ev, ["view", "click", "purchase"])


# --------------------------------------------------------------------------
# cohort retention triangle (first-seen week x activity-week offset)
# --------------------------------------------------------------------------
@register(
    "event_cohort_retention",
    sql="""
    WITH e AS (SELECT DISTINCT user_id,
                      CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS wk
               FROM events),
    first AS (SELECT user_id, min(wk) AS cohort_week FROM e GROUP BY user_id)
    SELECT cohort_week, wk - cohort_week AS week_offset,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM e JOIN first USING (user_id)
    GROUP BY cohort_week, wk - cohort_week
    """,
)
def event_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import cohort_retention

    ev = load_table(spark, sf_dir, "events")
    return cohort_retention(ev)


# --------------------------------------------------------------------------
# PIVOT — wide conditional aggregation (the inverse of unpivot_measures;
# Spark's groupBy().pivot() with an explicit value list so the plan
# needs no distinct-scan of the pivot column)
# --------------------------------------------------------------------------
@register(
    "pivot_event_values",
    sql="""
    SELECT user_id,
           round(coalesce(sum(CASE WHEN event_type = 'click' THEN value END), 0), 2) AS click,
           round(coalesce(sum(CASE WHEN event_type = 'purchase' THEN value END), 0), 2) AS purchase,
           round(coalesce(sum(CASE WHEN event_type = 'view' THEN value END), 0), 2) AS view
    FROM events
    WHERE event_type IN ('click', 'purchase', 'view')
    GROUP BY user_id
    """,
)
def pivot_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase", "view")
    )
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "purchase", "view"])
        .agg(F.sum("value"))
    )
    return wide.select(
        "user_id",
        *[
            F.round(F.coalesce(c, F.lit(0.0)), 2).alias(c)
            for c in ("click", "purchase", "view")
        ],
    )


# --------------------------------------------------------------------------
# robust outlier screen on the event value stream (median/MAD rule)
# --------------------------------------------------------------------------
@register(
    "event_value_outliers",
    sql="""
    WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
                 FROM events GROUP BY event_type),
    dev AS (SELECT e.event_type, m.med, abs(e.value - m.med) AS d
            FROM events e JOIN med m USING (event_type)),
    mad AS (SELECT event_type, med, quantile_cont(d, 0.5) AS mad
            FROM dev GROUP BY event_type, med)
    SELECT d.event_type, round(m.med, 6) AS med, round(m.mad, 6) AS mad,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN d.d > 3.5 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
               AS n_outliers,
           round(sum(CASE WHEN d.d > 3.5 * m.mad THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS outlier_frac
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type, m.med, m.mad
    """,
)
def event_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import value_outliers

    ev = load_table(spark, sf_dir, "events")
    return value_outliers(ev, k=3.5)


# --------------------------------------------------------------------------
# first-order Markov transition matrix over per-user event sequences
# --------------------------------------------------------------------------
@register(
    "event_transitions",
    sql="""
    WITH e AS (SELECT user_id, event_id, event_type,
                      CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events),
    seq AS (SELECT user_id, event_type,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY t, event_id) AS prev
            FROM e),
    pairs AS (SELECT prev AS from_type, event_type AS to_type,
                     CAST(count(*) AS BIGINT) AS n
              FROM seq WHERE prev IS NOT NULL
              GROUP BY prev, event_type),
    tot AS (SELECT from_type, sum(n) AS tot FROM pairs GROUP BY from_type)
    SELECT p.from_type, p.to_type, p.n,
           round(p.n / CAST(t.tot AS DOUBLE), 6) AS p
    FROM pairs p JOIN tot t USING (from_type)
    """,
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import transition_matrix

    ev = load_table(spark, sf_dir, "events")
    return transition_matrix(ev)
