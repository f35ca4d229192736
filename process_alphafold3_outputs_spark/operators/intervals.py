"""Chain-interval offsets + the matrix-slice count-threshold kernel.

O16-O19 (process_af3_outputs.py:185-224): per-job prefix sums of chain
token lengths give each chain a global token interval [start, end);
the core query counts, for every partner token (matrix column), how
many POI tokens (matrix rows) have PAE strictly below the cutoff, and
keeps partner tokens with count >= min_residues.

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

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..params import ScreenParams


def chain_intervals(chains: DataFrame) -> DataFrame:
    """Prefix-sum offsets (O16, :201-204): start = sum of token_length of
    preceding chains in chain_index order; end = start + token_length.
    ``sequence`` rides along (null when ``chains`` carries none)."""
    w = (
        Window.partitionBy("job")
        .orderBy("chain_index")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return chains.select(
        "job",
        "chain_id",
        "chain_index",
        "token_length",
        F.coalesce(F.sum("token_length").over(w), F.lit(0)).alias("start"),
        (F.col("sequence") if "sequence" in chains.columns
         else F.lit(None).cast("string")).alias("sequence"),
    ).withColumn("end", F.col("start") + F.col("token_length"))


def job_bounds(
    chains: DataFrame, params: ScreenParams, width: DataFrame | None = None
) -> DataFrame:
    """One row per job from ONE pass over ``chains`` (the interval window,
    then a job-keyed conditional aggregation — no exchange beyond the
    window's): poi/partner ``start``/``end``, ``matrix_width`` and both
    chain ``sequence``s (``poi_seq``/``partner_seq``; null when
    ``chains`` carries none). Unused columns are pruned by the caller's
    projection, so the PAE kernel never reads sequences.

    Bounds guard (O17, :209-211): the reference checks only the PARTNER
    slice against the matrix width (start_partner >= width or
    end_partner > width ⇒ reject); the POI slice is unchecked. Jobs
    lacking either chain are dropped. ``width``: optional (job,
    matrix_width) table replacing the Σ token_length width."""
    iv = chain_intervals(chains)
    poi = F.col("chain_id") == params.poi_chain
    partner = F.col("chain_id") == params.partner_chain
    bounds = iv.groupBy("job").agg(
        F.max(F.when(poi, F.col("start"))).alias("poi_start"),
        F.max(F.when(poi, F.col("end"))).alias("poi_end"),
        F.max(F.when(partner, F.col("start"))).alias("partner_start"),
        F.max(F.when(partner, F.col("end"))).alias("partner_end"),
        F.sum("token_length").alias("matrix_width"),
        F.max(F.when(poi, F.col("sequence"))).alias("poi_seq"),
        F.max(F.when(partner, F.col("sequence"))).alias("partner_seq"),
    )
    if width is not None:
        bounds = bounds.drop("matrix_width").join(width, "job")
    return bounds.filter(
        F.col("poi_start").isNotNull()
        & (F.col("partner_start") < F.col("matrix_width"))
        & (F.col("partner_end") <= F.col("matrix_width"))
    )


def partner_tokens(bounds: DataFrame) -> DataFrame:
    """Every in-range partner token of each bounds row, as (job,
    partner_res) — the ``min_residues <= 0`` answer: the reference's
    ``sum(pae_slice < cutoff, axis=0) >= min_res`` is vacuously true for
    every partner column, including ones with zero sub-cutoff entries
    that a hit-based groupBy never sees."""
    return bounds.filter(F.col("partner_end") > F.col("partner_start")).select(
        "job",
        F.explode(
            F.sequence(F.lit(1), F.col("partner_end") - F.col("partner_start"))
        ).alias("partner_res"),
    )


def pae_hits(pae_long: DataFrame, bounds: DataFrame, cutoff: float) -> DataFrame:
    """PAE entries under ``cutoff`` inside the POI-row × partner-column
    slice of each job. The cutoff filter comes FIRST so it pushes into
    the parquet scan. No broadcast hint: bounds is one row per job
    (linear in corpus size) — AQE broadcasts it only when actually
    small."""
    return (
        pae_long.filter(F.col("pae") < F.lit(float(cutoff)))
        .join(bounds, "job")
        .filter(
            F.col("scored_token").between(F.col("poi_start"), F.col("poi_end") - 1)
            & F.col("aligned_token").between(
                F.col("partner_start"), F.col("partner_end") - 1
            )
        )
    )


def interacting_in_bounds(
    pae_long: DataFrame, bounds: DataFrame, params: ScreenParams
) -> DataFrame:
    """The count-threshold kernel (O18-O19) over prebuilt ``bounds``:
    (job, partner_res) with ``partner_res`` 1-based chain-local (:222)."""
    if int(params.min_residues_cutoff) <= 0:
        # A job whose PAE matrix is missing/unparseable is still SKIPPED
        # by the reference (extract_pae_data failure drops the job before
        # the slice), and the vacuous path never reads a PAE value — so
        # guard with a cheap aggregated semi-join on the jobs that do
        # have a matrix.
        return partner_tokens(
            bounds.join(pae_long.select("job").distinct(), "job", "left_semi")
        )
    return (
        pae_hits(pae_long, bounds, params.max_pae_cutoff)
        .groupBy("job", "aligned_token", "partner_start")
        .agg(F.count(F.lit(1)).alias("n_poi_tokens"))
        .filter(F.col("n_poi_tokens") >= F.lit(int(params.min_residues_cutoff)))
        # Index rebase (O19, :222): global token -> 1-based chain-local id.
        .select(
            "job",
            (F.col("aligned_token") - F.col("partner_start") + 1).alias("partner_res"),
        )
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

    ``min_residues_cutoff <= 0`` short-circuits to "every in-range
    partner token" (see ``partner_tokens``).
    """
    width = None
    if width_source != "chains":
        width = pae_long.groupBy("job").agg(
            (F.max("aligned_token") + 1).alias("matrix_width")
        )
    bounds = job_bounds(chains, params, width)
    if jobs is not None:
        bounds = bounds.join(jobs.select("job"), "job", "left_semi")
    return interacting_in_bounds(pae_long, bounds, params)
