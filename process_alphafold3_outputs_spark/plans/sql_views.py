"""SQL API surface: register the engine's tables as temp views so every
kernel is reachable through ``spark.sql`` as well as the DataFrame API
(same Catalyst plans either way)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.screen import SCREEN

AF3_TABLES = ("predictions", "chains", "pae_long", "atoms")


def register_af3_views(
    spark: SparkSession, tables: dict[str, DataFrame], prefix: str = "af3_"
) -> list[str]:
    names = []
    for name, df in tables.items():
        view = f"{prefix}{name}"
        df.createOrReplaceTempView(view)
        names.append(view)
    return names


def screen_binders_sql(
    spark: SparkSession, poi_idx: int, partner_idx: int,
    min_iptm: float = 0.0, min_ptm: float = 0.0, max_pae: float = 15.0,
) -> DataFrame:
    """The O5-O8 binder screen as a spark.sql query over the registered
    ``af3_predictions`` view: the shared ``SCREEN`` fragment (the one
    ``operators.screen`` runs), rounded to 6 decimals on top. ``poi_idx``
    and ``partner_idx`` are 0-based chain indices."""
    return spark.sql(
        f"""WITH predictions AS (SELECT * FROM af3_predictions), screen AS ({SCREEN})
        SELECT job, round(iptm, 6) AS iptm, round(ptm, 6) AS ptm,
               round(pae_value, 6) AS pae_value
        FROM screen""",
        args={"poi_idx": poi_idx + 1, "partner_idx": partner_idx + 1,
              "min_iptm": float(min_iptm), "min_ptm": float(min_ptm),
              "max_pae": float(max_pae)},
    )
