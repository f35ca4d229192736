"""End-to-end interaction pipeline — the reference's `process_directory`
re-expressed as ONE Spark SQL statement over all jobs at once
(process_af3_outputs.py:543-579; lifecycle in SURVEY §3.1).

Each flagship operator is written once, as a shared SQL fragment that
reads its inputs by fixed relation names and takes its values through
named parameter markers: ``SCREEN`` (operators.screen), the per-job
bounds row ``bounds_fragment()`` and the PAE count ``KERNEL`` with its
``min_residues <= 0`` partner-token branch (operators.intervals), the
8-cell ``GRID`` contact join (operators.spatial), and here the two
island levels ``PARTNER_ISLANDS``/``TWO_LEVEL_ISLANDS`` and the
``REPORT`` projection. ``interaction_report`` joins them as CTEs and
issues one ``spark.sql`` per screen point: Catalyst analyses the plan
once instead of once per DataFrame call, and the parameter values
(chain labels, cutoffs) are bound, never spliced into the text. The
report's column names, which embed the chain labels, are applied with
``toDF``.

The per-job Python loop disappears into partitioning: every stage keys
by ``job`` first, so the whole corpus processes as embarrassingly
parallel partitions. Each ingested table is read once and each
intermediate is referenced once, except ``atoms`` (the contact join's
two sides) and ``chains`` (the per-job bounds row, inlined twice
because the PAE kernel and the report project different columns of
it). At the reference defaults on a local session the executed plan has
5 shuffle exchanges: the chain-interval window (job), the PAE count
aggregate (job, token), both sides of the contact grid join (job,
cell), and the partner-island window (job), whose partitioning every
later island window and aggregate reuses.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from ..operators.intervals import KERNEL, bounds_fragment, kernel_args, with_sequence
from ..operators.screen import SCREEN, screen_args
from ..operators.spatial import GRID, grid_args
from ..operators.util import sql_statement
from ..params import (
    PARTNER_ISLAND_MAX_GAP,
    PARTNER_ISLAND_MIN_LENGTH,
    POI_ISLAND_MAX_GAP,
    POI_ISLAND_MIN_LENGTH,
    ScreenParams,
)

#: Level 1 of O24 (process_af3_outputs.py:291-292) over ``contacts``:
#: the contact rows (job, partner_res, poi_res) of partner residues lying
#: in an island of the contact-map keys (gap <= 1, >= 3 distinct
#: residues), tagged with the island (``p_isl``) and its
#: ``p_min``/``p_max``. One window partitioned by ``job`` directly over
#: the contact rows; a new island starts where ``partner_res`` jumps by
#: more than the gap (equal values have gap 0, so duplicate rows never
#: break an island and the size counts DISTINCT residues).
PARTNER_ISLANDS = """
SELECT job, partner_res, poi_res, p_isl, p_min, p_max FROM (
  SELECT job, partner_res, poi_res, p_isl,
         min(partner_res) OVER w AS p_min, max(partner_res) OVER w AS p_max,
         size(collect_set(partner_res) OVER w) AS _n
  FROM (
    SELECT job, partner_res, poi_res,
           sum(CASE WHEN partner_res - lag(partner_res) OVER (
                             PARTITION BY job ORDER BY partner_res) > :p_gap
                    THEN 1 ELSE 0 END) OVER (
               PARTITION BY job ORDER BY partner_res
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_isl
    FROM contacts)
  WINDOW w AS (PARTITION BY job, p_isl))
WHERE _n >= :p_len
"""

#: O24 (process_af3_outputs.py:288-302) over ``partner_islands``: per
#: partner island, islands over the UNION of its POI contact sets
#: (gap <= 2, >= 3 distinct residues) — one row per (partner island ×
#: POI island) pair: (job, p_min, p_max, c_min, c_max). The POI level is
#: a second window over (job, p_isl) ordered by ``poi_res`` — the set
#: union is implicit, since a POI residue shared by several partner
#: residues repeats with gap 0 — then one aggregate per island pair.
#: ``HashPartitioning(job)`` from the partner window satisfies both, so
#: neither adds an exchange. The reference iterates a raw ``set`` here;
#: we sort (documented divergence-to-correctness, SURVEY §2.2 #7).
TWO_LEVEL_ISLANDS = """
SELECT job, p_min, p_max, c_min, c_max FROM (
  SELECT job, p_isl, c_isl, p_min, p_max, min(poi_res) AS c_min,
         max(poi_res) AS c_max, count(DISTINCT poi_res) AS _n
  FROM (
    SELECT *,
           sum(CASE WHEN poi_res - lag(poi_res) OVER (
                             PARTITION BY job, p_isl ORDER BY poi_res) > :c_gap
                    THEN 1 ELSE 0 END) OVER (
               PARTITION BY job, p_isl ORDER BY poi_res
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_isl
    FROM partner_islands)
  GROUP BY job, p_isl, c_isl, p_min, p_max)
WHERE _n >= :c_len
"""

#: The report rows over ``islands`` and ``bounds`` (:372-380): ranges
#: ``min-max``; Spark substring is 1-based inclusive-length — exact match
#: for sequence[min-1:max] (:377). Column names come from ``toDF``.
REPORT = """
SELECT job, concat_ws('-', c_min, c_max),
       substring(poi_seq, c_min, c_max - c_min + 1),
       concat_ws('-', p_min, p_max),
       substring(partner_seq, p_min, p_max - p_min + 1)
FROM islands JOIN (SELECT job, poi_seq, partner_seq FROM bounds) USING (job)
"""

_ISLAND_ARGS = {
    "p_gap": PARTNER_ISLAND_MAX_GAP,
    "p_len": PARTNER_ISLAND_MIN_LENGTH,
    "c_gap": POI_ISLAND_MAX_GAP,
    "c_len": POI_ISLAND_MIN_LENGTH,
}

#: screen → bounds → PAE kernel over the screened bounds → contact grid
_CONTACT_CTES = [
    ("bounds", bounds_fragment()),
    ("screen", SCREEN),
    ("screened", "SELECT * FROM bounds LEFT SEMI JOIN screen USING (job)"),
    ("interacting", KERNEL),
    ("contacts", GRID),
]
_ISLAND_CTES = [("partner_islands", PARTNER_ISLANDS), ("islands", TWO_LEVEL_ISLANDS)]


def flagship_args(params: ScreenParams) -> dict:
    """Every value the flagship fragments bind."""
    return {**screen_args(params), **kernel_args(params), **grid_args(params),
            **_ISLAND_ARGS}


def partner_islands(contacts: DataFrame) -> DataFrame:
    """Level 1 of O24 (see ``PARTNER_ISLANDS``): (job, partner_res,
    poi_res, p_isl, p_min, p_max)."""
    return sql_statement(
        _ISLAND_CTES[:1], "SELECT * FROM partner_islands", _ISLAND_ARGS,
        contacts=contacts,
    )


def two_level_islands(contacts: DataFrame) -> DataFrame:
    """O24 (see ``TWO_LEVEL_ISLANDS``): (job, p_min, p_max, c_min, c_max)."""
    return sql_statement(_ISLAND_CTES, "SELECT * FROM islands", _ISLAND_ARGS,
                         contacts=contacts)


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
    return sql_statement(
        _CONTACT_CTES, "SELECT * FROM contacts", flagship_args(params),
        predictions=predictions, chains=with_sequence(chains), pae_long=pae_long,
        atoms=atoms,
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
    sequences sliced 1-based inclusive, :372-380), as ONE statement.

    ``contacts``: optionally a precomputed compute_contacts result,
    reused across report + sinks. Materialize it (parquet, or
    ``localCheckpoint`` as the CLI does): the statement reads its inputs
    through temp views, and a ``cache()``d plan read through a temp view
    is recomputed on Spark 4.1."""
    tables = {"chains": with_sequence(chains)}
    if contacts is None:
        ctes = _CONTACT_CTES + _ISLAND_CTES
        tables.update(predictions=predictions, pae_long=pae_long, atoms=atoms)
    else:
        ctes = [_CONTACT_CTES[0]] + _ISLAND_CTES
        tables["contacts"] = contacts
    report = sql_statement(ctes, REPORT, flagship_args(params), **tables)
    return report.toDF(*params.report_columns())


def save_report_csv(
    report: DataFrame, out_dir: str, params: ScreenParams
) -> tuple[str, int]:
    """O29: the report as ONE file with the reference's name
    (process_af3_outputs.py:304-318), so a drop-in user diffing output
    trees sees the same file; the report is one row per binder island
    pair, small relative to the corpus. Returns (path, n_rows)."""
    path = os.path.join(out_dir, params.csv_name())
    pdf = report.toPandas()
    pdf.to_csv(path, index=False)
    return path, len(pdf)
