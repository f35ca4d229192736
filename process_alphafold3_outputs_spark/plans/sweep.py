"""Parameter-sweep screening: evaluate MANY cutoff combinations in ONE
pass over the corpus.

Reference users sweep cutoffs by re-running the whole pipeline per
combination — re-reading and re-parsing everything (its per-run cost ×
|grid|). Declaratively, a sweep is just conditional aggregation: filter
once by the LOOSEST cutoff (still pushed down), then count matches per
(job, token, param) with CASE-per-param inside a single hash
aggregation. Corpus I/O is paid once regardless of grid size.

The sweep is ONE ``spark.sql`` statement over the shared bounds and
slice fragments of ``operators.intervals``; its text depends only on
the number of grid points, and every cutoff binds as a parameter.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from ..operators.intervals import (
    PAE_HITS,
    PARTNER_TOKENS,
    bounds_args,
    bounds_fragment,
    with_sequence,
)
from ..operators.util import sql_statement
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


def _sweep_sql(n: int) -> tuple[list[tuple[str, str]], str]:
    """The CTEs and select over ``screened`` for ``n`` grid points:
    per-point conditional counts in one aggregation, exploded to the
    points whose count clears their ``min_residues``; then, per point, a
    partner-token branch guarded by ``min_residues <= 0`` (reference
    parity: every in-range partner token qualifies, see
    ``intervals.PARTNER_TOKENS``), which the optimizer prunes for every
    point with a positive ``min_residues``."""
    counts = ", ".join(
        f"sum(CASE WHEN pae < :pae{i} THEN 1 ELSE 0 END) AS _n{i}" for i in range(n))
    keeps = ", ".join(
        f"struct(:id{i} AS param_id, _n{i} >= :mr{i} AND :mr{i} > 0 AS keep)"
        for i in range(n))
    vacuous = "".join(
        f"\nUNION ALL SELECT :id{i}, job, partner_res FROM tokens WHERE :mr{i} <= 0"
        for i in range(n))
    ctes = [
        ("counts", f"""
SELECT job, aligned_token, partner_start, {counts}
FROM ({PAE_HITS})
GROUP BY job, aligned_token, partner_start"""),
        ("tokens", PARTNER_TOKENS),
    ]
    return ctes, f"""
SELECT _s.param_id AS param_id, job, partner_res FROM (
  SELECT job, aligned_token - partner_start + 1 AS partner_res,
         explode(array({keeps})) AS _s
  FROM counts)
WHERE _s.keep{vacuous}
"""


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
    # the slice filter takes the loosest cutoff; each count applies its own
    args = {**bounds_args(base), "max_pae": max(float(p.max_pae_cutoff) for p in grid)}
    for i, p in enumerate(grid):
        args.update({f"id{i}": int(p.param_id), f"pae{i}": float(p.max_pae_cutoff),
                     f"mr{i}": int(p.min_residues_cutoff)})
    ctes, select = _sweep_sql(len(grid))
    return sql_statement(
        [("bounds", bounds_fragment()), ("screened", "SELECT * FROM bounds"), *ctes],
        select, args,
        pae_long=pae_long, chains=with_sequence(chains),
    )
