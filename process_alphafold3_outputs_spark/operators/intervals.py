"""Chain-interval offsets + the matrix-slice count-threshold kernel.

O16-O19 (process_af3_outputs.py:185-224): per-job prefix sums of chain
token lengths give each chain a global token interval [start, end);
the core query counts, for every partner token (matrix column), how
many POI tokens (matrix rows) have PAE strictly below the cutoff, and
keeps partner tokens with count >= min_residues.

Shared SQL fragments (composed by ``util.sql_statement``; values bind
as parameter markers):

- ``INTERVALS`` (reads ``chains``): the prefix-sum window, O16;
- ``bounds_fragment()`` (reads ``chains``, and ``width`` when asked):
  one row per job, the O17 bounds guard applied;
- ``KERNEL`` (reads ``pae_long`` and ``screened``, the bounds rows to
  screen): the count kernel O18-O19, with the ``min_residues <= 0``
  partner-token branch. Each branch carries a literal guard on
  ``:min_residues``, so the optimizer prunes the branch not taken and
  the executed plan is the one of that branch alone.

Spark shape (SURVEY §2 O18): long-form ``pae_long`` is filtered by
``pae < cutoff`` FIRST (predicate pushdown into the parquet scan at
scale), then range-joined against the per-job interval table, then a
single hash aggregation keyed (job, aligned_token).

Scale note on the interval join: ``bounds`` has ONE ROW PER JOB, so it
grows linearly with the corpus (10^8 jobs × ~50 B ≈ 5 GB) — far past
any sane broadcast threshold. The join therefore carries NO broadcast
hint: both sides are keyed by ``job``, so AQE picks a shuffle hash
join (skew-safe) at scale and still auto-broadcasts when the screened
job list is genuinely small (the common case after a selective
screen). Forcing the broadcast was a driver-OOM at 100× — see
VERDICT r1 "What's wrong #1".
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..params import ScreenParams
from .util import sql_statement

#: O16 (:201-204): start = sum of token_length of the preceding chains in
#: chain_index order; end = start + token_length.
INTERVALS = """
SELECT job, chain_id, chain_index, token_length, start, sequence,
       start + token_length AS `end`
FROM (
  SELECT job, chain_id, chain_index, token_length,
         coalesce(sum(token_length) OVER (
             PARTITION BY job ORDER BY chain_index
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start,
         sequence
  FROM chains)
"""

_BOUNDS_AGG = f"""
SELECT job,
       max(CASE WHEN chain_id = :poi_chain THEN start END) AS poi_start,
       max(CASE WHEN chain_id = :poi_chain THEN `end` END) AS poi_end,
       max(CASE WHEN chain_id = :partner_chain THEN start END) AS partner_start,
       max(CASE WHEN chain_id = :partner_chain THEN `end` END) AS partner_end,
       sum(token_length) AS matrix_width,
       max(CASE WHEN chain_id = :poi_chain THEN sequence END) AS poi_seq,
       max(CASE WHEN chain_id = :partner_chain THEN sequence END) AS partner_seq
FROM ({INTERVALS})
GROUP BY job
"""

# Bounds guard (O17, :209-211): the reference checks only the PARTNER
# slice against the matrix width; the POI slice is unchecked. Jobs
# lacking either chain are dropped.
_BOUNDS_GUARD = """
WHERE poi_start IS NOT NULL
  AND partner_start < matrix_width AND partner_end <= matrix_width
"""

#: the measured matrix width per job (``width_source="pae"``)
WIDTH = "SELECT job, max(aligned_token) + 1 AS matrix_width FROM pae_long GROUP BY job"


def bounds_fragment(width: bool = False) -> str:
    """One row per job from ONE pass over ``chains`` (the interval
    window, then a job-keyed conditional aggregation — no exchange
    beyond the window's): poi/partner ``start``/``end``,
    ``matrix_width`` and both chain sequences (``poi_seq``/
    ``partner_seq``; null when ``chains`` carries none). The caller's
    projection prunes what it does not use, so the PAE kernel never
    reads sequences. ``width``: take ``matrix_width`` from the ``width``
    relation instead of Σ token_length."""
    if not width:
        return f"SELECT * FROM ({_BOUNDS_AGG}) {_BOUNDS_GUARD}"
    return f"""
SELECT * FROM (
  SELECT job, a.poi_start, a.poi_end, a.partner_start, a.partner_end, a.poi_seq,
         a.partner_seq, w.matrix_width
  FROM ({_BOUNDS_AGG}) AS a JOIN width AS w USING (job))
{_BOUNDS_GUARD}"""


#: the kernel's slice join: PAE entries under ``:max_pae`` inside the
#: POI-row × partner-column slice of each ``screened`` job. The cutoff
#: filter comes FIRST so it pushes into the parquet scan.
PAE_HITS = """
SELECT * FROM (SELECT * FROM pae_long WHERE pae < :max_pae)
JOIN screened USING (job)
WHERE scored_token >= poi_start AND scored_token <= poi_end - 1
  AND aligned_token >= partner_start AND aligned_token <= partner_end - 1
"""


#: every in-range partner token of each ``screened`` job, as (job,
#: partner_res) — the ``min_residues <= 0`` answer: the reference's
#: ``sum(pae_slice < cutoff, axis=0) >= min_res`` is vacuously true for
#: every partner column, including ones with zero sub-cutoff entries
#: that a hit-based count never sees. A job whose PAE matrix is missing
#: is still SKIPPED by the reference (extract_pae_data failure drops the
#: job before the slice), so the tokens are semi-joined on the jobs that
#: do have a matrix.
PARTNER_TOKENS = """
SELECT job, explode(sequence(1, partner_end - partner_start)) AS partner_res
FROM (SELECT * FROM screened WHERE partner_end > partner_start)
LEFT SEMI JOIN (SELECT DISTINCT job FROM pae_long) USING (job)
"""

#: O18-O19 over ``screened`` bounds rows: (job, partner_res) with
#: ``partner_res`` 1-based chain-local (index rebase, :222).
KERNEL = f"""
SELECT job, aligned_token - partner_start + 1 AS partner_res FROM (
  SELECT job, aligned_token, partner_start, count(1) AS n_poi_tokens
  FROM ({PAE_HITS})
  GROUP BY job, aligned_token, partner_start)
WHERE n_poi_tokens >= :min_residues AND :min_residues > 0
UNION ALL
SELECT job, partner_res FROM ({PARTNER_TOKENS}) WHERE :min_residues <= 0
"""


def bounds_args(params: ScreenParams) -> dict:
    return {"poi_chain": params.poi_chain, "partner_chain": params.partner_chain}


def kernel_args(params: ScreenParams) -> dict:
    return {
        **bounds_args(params),
        "max_pae": float(params.max_pae_cutoff),
        "min_residues": int(params.min_residues_cutoff),
    }


def with_sequence(chains: DataFrame) -> DataFrame:
    """``chains`` as the fragments read it: a null ``sequence`` column
    when the input carries none."""
    if "sequence" in chains.columns:
        return chains
    return chains.withColumn("sequence", F.lit(None).cast("string"))


def chain_intervals(chains: DataFrame) -> DataFrame:
    """Prefix-sum offsets (O16): (job, chain_id, chain_index,
    token_length, start, sequence, end)."""
    return sql_statement(
        [("intervals", INTERVALS)], "SELECT * FROM intervals", {},
        chains=with_sequence(chains),
    )


def job_bounds(chains: DataFrame, params: ScreenParams) -> DataFrame:
    """One bounds row per job (see ``bounds_fragment``)."""
    return sql_statement(
        [("bounds", bounds_fragment())], "SELECT * FROM bounds", bounds_args(params),
        chains=with_sequence(chains),
    )


def identify_interacting_residues(
    pae_long: DataFrame,
    chains: DataFrame,
    params: ScreenParams,
    jobs: DataFrame | None = None,
    width_source: str = "chains",
) -> DataFrame:
    """Partner residues with >= min_residues POI tokens under the PAE
    cutoff (O17-O19, :197-224). Returns (job, partner_res) with
    ``partner_res`` 1-based chain-local (:222).

    ``jobs`` optionally restricts to screened binders (semi-join).

    ``width_source``: where the O17 bounds guard gets the matrix width.
    ``"chains"`` (default) derives width as Σ token_length — free (the
    interval table is already built), and equivalent whenever the CIF
    token count matches the matrix (true for well-formed AF3 output);
    at 100 TB this halves the pae_long I/O. ``"pae"`` measures the
    actual matrix via a groupBy over ``pae_long`` — exact reference
    parity even for truncated/malformed matrices, at the cost of ONE
    EXTRA FULL PASS over the biggest table (kept for the malformed-
    width parity test; see tests/test_pipeline.py).

    ``min_residues_cutoff <= 0`` answers "every in-range partner token"
    (see ``PARTNER_TOKENS``).
    """
    measured = width_source != "chains"
    ctes = [("width", WIDTH)] if measured else []
    ctes.append(("bounds", bounds_fragment(width=measured)))
    tables = {"pae_long": pae_long, "chains": with_sequence(chains)}
    if jobs is None:
        ctes.append(("screened", "SELECT * FROM bounds"))
    else:
        tables["jobs"] = jobs
        ctes.append(("screened", "SELECT * FROM bounds LEFT SEMI JOIN jobs USING (job)"))
    ctes.append(("interacting", KERNEL))
    return sql_statement(ctes, "SELECT * FROM interacting", kernel_args(params), **tables)
