"""Binder screen — O5-O8 (process_af3_outputs.py:66-105).

Input: ``predictions`` DataFrame, one row per AF3 job:
  (job STRING, iptm DOUBLE?, ptm DOUBLE?, chain_pair_pae_min ARRAY<ARRAY<DOUBLE>>?)

Semantics reproduced exactly:
  - missing iptm/ptm default to 0 (``data.get(k, 0)``, :82-83)      -> coalesce
  - reject when iptm < min_iptm OR ptm < min_ptm (equality passes, :86)
  - chain label outside A-E rejects the job (:89-94)                -> NULL index
  - pae = chain_pair_pae_min[poi][partner]; reject when >= cutoff or
    out-of-bounds / missing (:96-103)                               -> try element_at ⇒ null ⇒ filtered

``SCREEN`` is the shared SQL fragment (reads ``predictions``); the
cutoffs and 1-based matrix indices bind as parameter literals, so the
plan is a scan + filter with the values constant-folded and pushed
down — no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..params import CHAIN_TO_INDEX, ScreenParams
from .util import sql_statement

#: O5-O8 over ``predictions``: passing jobs with their effective
#: (iptm, ptm, pae_value). An unknown chain label binds a NULL index, so
#: ``pae_value`` is NULL and every job is rejected (reference :91-94).
SCREEN = """
SELECT job, iptm, ptm, pae_value FROM (
  SELECT job, coalesce(iptm, 0D) AS iptm, coalesce(ptm, 0D) AS ptm,
         try_element_at(try_element_at(chain_pair_pae_min, CAST(:poi_idx AS INT)),
                        CAST(:partner_idx AS INT)) AS pae_value
  FROM predictions)
WHERE iptm >= :min_iptm AND ptm >= :min_ptm
  AND pae_value IS NOT NULL AND pae_value < :max_pae
"""


def screen_args(params: ScreenParams) -> dict:
    """The values ``SCREEN`` binds: element_at is 1-based; an unknown
    label is NULL."""
    poi = CHAIN_TO_INDEX.get(params.poi_chain)
    partner = CHAIN_TO_INDEX.get(params.partner_chain)
    return {
        "poi_idx": None if poi is None else poi + 1,
        "partner_idx": None if partner is None else partner + 1,
        "min_iptm": float(params.min_iptm_cutoff),
        "min_ptm": float(params.min_ptm_cutoff),
        "max_pae": float(params.max_pae_cutoff),
    }


def screen_binders(predictions: DataFrame, params: ScreenParams) -> DataFrame:
    """Return passing jobs with their effective (iptm, ptm, pae_value)."""
    return sql_statement(
        [("screen", SCREEN)], "SELECT * FROM screen", screen_args(params),
        predictions=predictions,
    )
