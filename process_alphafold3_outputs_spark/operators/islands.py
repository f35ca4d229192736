"""Gaps-and-islands (sessionization) kernel.

Re-expresses the reference's ``find_consecutive_groups``
(process_af3_outputs.py:253-286) and the two-level composition
``process_consecutive_interactions`` (:288-302) as window transforms:

  island boundary  = value - lag(value) > max_gap
  island id        = running sum of boundaries (then stabilised to the
                     island's MIN value so ids are deterministic for
                     oracle hashing — SURVEY §7.2)
  island filter    = HAVING count(*) >= min_length   (:279, :282 — ``>=``)

Scale note: the only shuffle is the window partition-by; keys lead with
the caller's partition columns (job, user, ...) so islands across
entities are embarrassingly parallel — no global sort.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def island_id(value_col: str, max_gap: int, partition_cols: Sequence[str]) -> Column:
    """Running island number over ``value_col`` within the partition: a
    new island starts where the value jumps by more than ``max_gap``.
    Equal values have a gap of 0, so duplicate rows never break an
    island (callers that count members count DISTINCT values)."""
    w = Window.partitionBy(*partition_cols).orderBy(F.col(value_col))
    gap_break: Column = F.when(
        F.col(value_col) - F.lag(value_col).over(w) > max_gap, 1
    ).otherwise(0)
    return F.sum(gap_break).over(w.rowsBetween(Window.unboundedPreceding, 0))


def find_islands(
    df: DataFrame,
    partition_cols: Sequence[str],
    value_col: str,
    max_gap: int,
    min_length: int,
    island_col: str = "island_start",
    keep_size: bool = False,
) -> DataFrame:
    """One row per kept (partition, value); ``island_col`` = min value of
    the island the row belongs to.

    Input rows must be distinct on (partition_cols, value_col) — the
    reference dedups via ``set`` (:249) / sorted keys (:291); callers
    apply ``distinct()`` upstream. Unlike the reference (which iterates a
    Python ``set`` and merely *assumes* ascending order, SURVEY §2.2 #7)
    the window ``orderBy`` makes ordering explicit.
    """
    part = [F.col(c) for c in partition_cols]
    out = df.withColumn("_isl", island_id(value_col, max_gap, partition_cols))
    w_isl = Window.partitionBy(*part, F.col("_isl"))
    out = (
        out.withColumn(island_col, F.min(value_col).over(w_isl))
        .withColumn("_sz", F.count(F.lit(1)).over(w_isl))
        .filter(F.col("_sz") >= min_length)
    )
    out = out if not keep_size else out.withColumnRenamed("_sz", "island_size")
    return out.drop("_sz", "_isl", *([] if keep_size else []))


def island_ranges(
    df: DataFrame,
    partition_cols: Sequence[str],
    value_col: str,
    max_gap: int,
    min_length: int,
) -> DataFrame:
    """Collapse kept islands to one row each with ``island_start`` /
    ``island_min`` / ``island_max`` / ``island_size`` — the ``min-max``
    range presentation of O26 (process_af3_outputs.py:376-379).

    Single window pass + hash aggregate: the per-island min/size that
    ``find_islands`` computes with a SECOND window function are here
    folded into the groupBy (HAVING count >= min_length). One shuffle
    total — HashPartitioning(partition_cols) from the break-window
    satisfies the agg's ClusteredDistribution(partition_cols, _isl)."""
    part = [F.col(c) for c in partition_cols]
    tagged = df.withColumn("_isl", island_id(value_col, max_gap, partition_cols))
    return (
        tagged.groupBy(*part, F.col("_isl"))
        .agg(
            F.min(value_col).alias("island_min"),
            F.max(value_col).alias("island_max"),
            F.count(F.lit(1)).alias("island_size"),
        )
        .filter(F.col("island_size") >= min_length)
        .withColumn("island_start", F.col("island_min"))
        .drop("_isl")
    )
