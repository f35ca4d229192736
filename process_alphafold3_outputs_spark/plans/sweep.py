"""Parameter-sweep screening: evaluate MANY cutoff combinations in ONE
pass over the corpus.

Reference users sweep cutoffs by re-running the whole pipeline per
combination — re-reading and re-parsing everything (its per-run cost ×
|grid|). Declaratively, a sweep is just conditional aggregation: filter
once by the LOOSEST cutoff (still pushed down), then count matches per
(job, token, param) with CASE-per-param inside a single hash
aggregation. Corpus I/O is paid once regardless of grid size.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.intervals import job_bounds, pae_hits, partner_tokens
from ..params import ScreenParams


@dataclass(frozen=True)
class SweepPoint:
    param_id: int
    max_pae_cutoff: float
    min_residues_cutoff: int


def sweep_grid(
    pae_cutoffs: list[float], min_residues: list[int]
) -> list[SweepPoint]:
    return [
        SweepPoint(i, pae, mr)
        for i, (pae, mr) in enumerate(
            (p, m) for p in pae_cutoffs for m in min_residues
        )
    ]


def sweep_interacting_residues(
    pae_long: DataFrame,
    chains: DataFrame,
    grid: list[SweepPoint],
    base: ScreenParams = ScreenParams(),
) -> DataFrame:
    """(param_id, job, partner_res) for every grid point — one corpus
    pass. The scan filter uses max(cutoffs) (pushdown still prunes);
    per-param counts are conditional sums in one aggregation.

    Width from Σ token_length (not a pae_long pass): the sweep's whole
    point is ONE pass over the corpus; measuring the matrix would add a
    second. Equivalent for well-formed AF3 output (see
    identify_interacting_residues ``width_source``)."""
    bounds = job_bounds(chains, base)
    loosest = max(p.max_pae_cutoff for p in grid)
    counts = pae_hits(pae_long, bounds, loosest).groupBy(
        "job", "aligned_token", "partner_start"
    ).agg(
        *[
            F.sum(
                F.when(F.col("pae") < F.lit(float(p.max_pae_cutoff)), 1).otherwise(0)
            ).alias(f"_n{p.param_id}")
            for p in grid
        ]
    )
    per_param = counts.select(
        "job",
        (F.col("aligned_token") - F.col("partner_start") + 1).alias("partner_res"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(p.param_id).alias("param_id"),
                        (F.col(f"_n{p.param_id}") >= F.lit(int(p.min_residues_cutoff))).alias("keep"),
                    )
                    for p in grid
                ]
            )
        ).alias("_s"),
    )
    kept = per_param.filter(F.col("_s.keep")).select(
        F.col("_s.param_id").alias("param_id"), "job", "partner_res"
    )
    # Reference parity for min_residues <= 0 grid points: every in-range
    # partner token qualifies (see intervals.partner_tokens).
    vacuous = [p.param_id for p in grid if int(p.min_residues_cutoff) <= 0]
    if vacuous:
        all_tokens = (
            partner_tokens(bounds)
            .crossJoin(
                F.broadcast(
                    bounds.sparkSession.createDataFrame(
                        [(pid,) for pid in vacuous], "param_id int"
                    )
                )
            )
            .select("param_id", "job", "partner_res")
        )
        kept = (
            kept.filter(~F.col("param_id").isin(vacuous)).unionByName(all_tokens)
        )
    return kept
