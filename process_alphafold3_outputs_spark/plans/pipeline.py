"""End-to-end interaction pipeline — the reference's `process_directory`
re-expressed as ONE DataFrame DAG over all jobs at once
(process_af3_outputs.py:543-579; lifecycle in SURVEY §3.1).

The per-job Python loop disappears into partitioning: every stage keys
by ``job`` first, so the whole corpus processes as embarrassingly
parallel partitions. Each ingested table is read once and each
intermediate is referenced once, except ``atoms`` (the contact join's
two sides) and ``chains`` (the per-job bounds row, built twice because
the PAE kernel and the report project different columns of it). At the
reference defaults on a local session the executed plan has 5 shuffle
exchanges: the chain-interval window (job), the PAE count aggregate
(job, token), both sides of the contact grid join (job, cell), and the
partner-island window (job), whose partitioning every later island
window and aggregate reuses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.intervals import interacting_in_bounds, job_bounds
from ..operators.islands import island_id
from ..operators.screen import screen_binders
from ..operators.spatial import contact_pairs_grid
from ..params import (
    PARTNER_ISLAND_MAX_GAP,
    PARTNER_ISLAND_MIN_LENGTH,
    POI_ISLAND_MAX_GAP,
    POI_ISLAND_MIN_LENGTH,
    ScreenParams,
)


def partner_islands(contacts: DataFrame) -> DataFrame:
    """Level 1 of O24 (process_af3_outputs.py:291-292): the contact rows
    (job, partner_res, poi_res) of partner residues lying in an island of
    the contact-map keys (gap <= 1, >= 3 distinct residues), tagged with
    the island (``p_isl``) and its ``p_min``/``p_max``. One window
    partitioned by ``job`` directly over the contact rows."""
    tagged = contacts.withColumn(
        "p_isl", island_id("partner_res", PARTNER_ISLAND_MAX_GAP, ["job"])
    )
    w = Window.partitionBy("job", "p_isl")
    return (
        tagged.withColumn("p_min", F.min("partner_res").over(w))
        .withColumn("p_max", F.max("partner_res").over(w))
        .withColumn("_n", F.size(F.collect_set("partner_res").over(w)))
        .filter(F.col("_n") >= PARTNER_ISLAND_MIN_LENGTH)
        .drop("_n")
    )


def two_level_islands(contacts: DataFrame) -> DataFrame:
    """O24 (process_af3_outputs.py:288-302): islands over contact-map keys
    (partner residues with >= 1 contact; gap<=1, len>=3), then — per
    partner island — islands over the UNION of that island's POI contact
    sets (gap<=2, len>=3).

    Returns one row per (partner island × POI island) pair:
      (job, p_min, p_max, c_min, c_max)
    The POI level is a second window over (job, p_isl) ordered by
    ``poi_res`` — the set union is implicit, since a POI residue shared
    by several partner residues repeats with gap 0 — then one aggregate
    per island pair. ``HashPartitioning(job)`` from the partner window
    satisfies both, so neither adds an exchange. The reference iterates
    a raw ``set`` here; we sort (documented divergence-to-correctness,
    SURVEY §2.2 #7)."""
    poi = partner_islands(contacts).withColumn(
        "c_isl", island_id("poi_res", POI_ISLAND_MAX_GAP, ["job", "p_isl"])
    )
    return (
        poi.groupBy("job", "p_isl", "c_isl", "p_min", "p_max")
        .agg(
            F.min("poi_res").alias("c_min"),
            F.max("poi_res").alias("c_max"),
            F.countDistinct("poi_res").alias("_n"),
        )
        .filter(F.col("_n") >= POI_ISLAND_MIN_LENGTH)
        .select("job", "p_min", "p_max", "c_min", "c_max")
    )


def compute_contacts(
    predictions: DataFrame,
    chains: DataFrame,
    pae_long: DataFrame,
    atoms: DataFrame,
    params: ScreenParams,
) -> DataFrame:
    """Shared subplan: screen → PAE threshold → contact pairs. Callers
    that need both the report AND the structure sinks compute (and
    cache) this ONCE — the reference recomputed the whole chain per
    output path (inefficiencies I1/I2)."""
    binders = screen_binders(predictions, params).select("job")
    screened = job_bounds(chains, params).join(binders, "job", "left_semi")
    return contact_pairs_grid(
        atoms, interacting_in_bounds(pae_long, screened, params), params
    )


def interaction_report(
    predictions: DataFrame,
    chains: DataFrame,
    pae_long: DataFrame,
    atoms: DataFrame,
    params: ScreenParams,
    contacts: DataFrame | None = None,
) -> DataFrame:
    """The flagship: screen → PAE threshold → contacts → islands →
    report rows with the reference's exact CSV schema
    (column names embed chain params, :306-312; ranges ``min-max``,
    sequences sliced 1-based inclusive, :372-380).

    ``contacts``: optionally a precomputed (cached) compute_contacts
    result, reused across report + sinks."""
    if contacts is None:
        contacts = compute_contacts(predictions, chains, pae_long, atoms, params)
    cols = params.report_columns()
    return (
        two_level_islands(contacts)
        .join(job_bounds(chains, params).select("job", "poi_seq", "partner_seq"), "job")
        .select(
            F.col("job").alias(cols[0]),
            F.concat_ws("-", "c_min", "c_max").alias(cols[1]),
            # Spark substring is 1-based inclusive-length — exact match
            # for sequence[min-1:max] (:377).
            F.expr("substring(poi_seq, c_min, c_max - c_min + 1)").alias(cols[2]),
            F.concat_ws("-", "p_min", "p_max").alias(cols[3]),
            F.expr("substring(partner_seq, p_min, p_max - p_min + 1)").alias(cols[4]),
        )
    )


def write_report(report: DataFrame, out_dir: str, params: ScreenParams) -> str:
    """O29: parameterised CSV sink (process_af3_outputs.py:304-318)."""
    path = f"{out_dir}/{params.csv_name()}"
    report.write.mode("overwrite").option("header", True).csv(path)
    return path
