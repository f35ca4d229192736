"""3-D contact join — O20-O22 (process_af3_outputs.py:226-251).

The reference builds a KD-tree per job (``NeighborSearch``, :233) and
queries every atom of every interacting partner residue for POI atoms
within ``max_dist`` Å (:242). Spark has no native spatial join; two
physical strategies, both pure-plan:

(a) grid-cell bucket join (default, scales): bin x,y,z into cells of
    edge ``2 * max_dist``; explode the PARTNER side (the smaller one —
    only atoms of interacting residues survive the semi-join) to the
    2×2×2 = 8 cells nearest its position (half-cell quantization: per
    axis the ±max_dist window spans at most 2 cells of pitch 2·d, the
    atom's own cell plus the one on the side of the cell midpoint the
    atom sits on); equi-join on (job, cx, cy, cz) — a plain hash join —
    then the exact Euclidean filter. Against the classic pitch-d,
    27-cell explode this shuffles 27/8 ≈ 3.4× fewer exploded partner rows at the cost of a
    larger candidate volume per cell (64·d³ vs 27·d³); the exact filter
    is cheap JVM arithmetic, the shuffle is the scale bottleneck.
    Shuffle keys lead with ``job`` so the join never mixes jobs.

Distance semantics: radius-INCLUSIVE (dist <= max_dist), matching
Biopython ``NeighborSearch.search`` (KD-tree "within radius" is
closed) — process_af3_outputs.py:233/:242.

(b) per-job numpy brute force via ``applyInPandas`` (lower constant
    factor for small jobs; used as the differential-test oracle).

Output: contact pairs (job, partner_res, poi_res) — the long form of
the reference's ``contact_map`` dict (:234-249); ``collect_set``
presentation is left to the report stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..params import ScreenParams


def contact_pairs_grid(
    atoms: DataFrame,
    interacting: DataFrame,
    params: ScreenParams,
    model_id: int = 0,
) -> DataFrame:
    """Strategy (a). ``atoms``: (job, model_id, chain_id, residue_id, x, y, z);
    ``interacting``: (job, partner_res) from the PAE kernel.

    Join-key choice preserved from the reference (SURVEY §2.2 #8):
    ``partner_res`` (1-based token position) is compared against the
    CIF author residue id (:231, :237)."""
    d = float(params.max_dist)
    cell = 2.0 * d  # half-cell quantization: pitch 2·d, 8-cell explode
    # Both sides keep only standard-AA residues (``is_aa(residue)``,
    # process_af3_outputs.py:230-231 — ligands/ions never contact).
    base = atoms.filter((F.col("model_id") == model_id) & F.col("is_aa"))

    poi = base.filter(F.col("chain_id") == params.poi_chain).select(
        "job",
        F.col("residue_id").alias("poi_res"),
        "x",
        "y",
        "z",
        F.floor(F.col("x") / cell).cast("int").alias("cx"),
        F.floor(F.col("y") / cell).cast("int").alias("cy"),
        F.floor(F.col("z") / cell).cast("int").alias("cz"),
    )

    # Semi-join filter (O21, :231/:237): only interacting partner residues.
    partner = (
        base.filter(F.col("chain_id") == params.partner_chain)
        .join(
            interacting.select("job", F.col("partner_res").alias("residue_id")),
            ["job", "residue_id"],
            "left_semi",
        )
        .select("job", F.col("residue_id").alias("partner_res"), "x", "y", "z")
    )

    # 8-cell expansion on the partner side only: per axis, a point at
    # fraction f of its cell reaches (within ±d = half a cell) only its
    # own cell and the neighbour on the f-side of the midpoint. Proof
    # sketch (per axis, pitch 2d, c = floor(x/2d), f = x/2d - c):
    #   f <  0.5: [x-d, x+d] ⊆ [(c-0.5)·2d, (c+1)·2d) → cells {c-1, c}
    #   f >= 0.5: [x-d, x+d] ⊆ [c·2d, (c+1.5)·2d)     → cells {c, c+1}
    # (closed interval: the <= boundary atom still lands in a covered
    # cell — at f=0.5 exactly, x+d = (c+1)·2d opens cell c+1, included.)
    def _half_cells(col: str):
        q = F.col(col) / cell
        c = F.floor(q).cast("int")
        side = F.when(q - c >= 0.5, F.lit(1)).otherwise(F.lit(-1))
        return c, side

    pcx, psx = _half_cells("x")
    pcy, psy = _half_cells("y")
    pcz, psz = _half_cells("z")
    partner_q = partner.select(
        "job",
        "partner_res",
        F.col("x").alias("px"),
        F.col("y").alias("py"),
        F.col("z").alias("pz"),
        pcx.alias("_cx"),
        psx.alias("_sx"),
        pcy.alias("_cy"),
        psy.alias("_sy"),
        pcz.alias("_cz"),
        psz.alias("_sz"),
    )
    offsets = F.array(
        *[
            F.struct(F.lit(ox).alias("ox"), F.lit(oy).alias("oy"), F.lit(oz).alias("oz"))
            for ox in (0, 1)
            for oy in (0, 1)
            for oz in (0, 1)
        ]
    )
    partner_cells = partner_q.withColumn("_o", F.explode(offsets)).select(
        "job",
        "partner_res",
        "px",
        "py",
        "pz",
        (F.col("_cx") + F.col("_sx") * F.col("_o.ox")).alias("cx"),
        (F.col("_cy") + F.col("_sy") * F.col("_o.oy")).alias("cy"),
        (F.col("_cz") + F.col("_sz") * F.col("_o.oz")).alias("cz"),
    )

    dist2 = (
        (F.col("px") - F.col("x")) ** 2
        + (F.col("py") - F.col("y")) ** 2
        + (F.col("pz") - F.col("z")) ** 2
    )
    return (
        partner_cells.join(poi, ["job", "cx", "cy", "cz"])
        .filter(dist2 <= F.lit(d * d))  # radius-inclusive (NeighborSearch)
        .select("job", "partner_res", "poi_res")
        .distinct()
    )


def contact_pairs_numpy(
    atoms: DataFrame,
    interacting: DataFrame,
    params: ScreenParams,
    model_id: int = 0,
) -> DataFrame:
    """Strategy (b): per-job vectorised brute force (O(P·Q) on in-job
    atom counts, fine at AF3 sizes). Arrow-batched grouped-map UDF."""
    import pandas as pd

    d2 = float(params.max_dist) ** 2
    poi_chain, partner_chain = params.poi_chain, params.partner_chain

    base = atoms.filter(
        (F.col("model_id") == model_id)
        & F.col("is_aa")
        & F.col("chain_id").isin([poi_chain, partner_chain])
    )
    tagged = base.join(
        interacting.select("job", F.col("partner_res").alias("residue_id"))
        .withColumn("_chain", F.lit(partner_chain)),
        ["job", "residue_id"],
        "left",
    ).filter(
        (F.col("chain_id") == poi_chain)
        | ((F.col("chain_id") == partner_chain) & F.col("_chain").isNotNull())
    )

    def per_job(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        poi_m = pdf["chain_id"] == poi_chain
        p = pdf.loc[poi_m, ["residue_id", "x", "y", "z"]]
        q = pdf.loc[~poi_m, ["residue_id", "x", "y", "z"]]
        if p.empty or q.empty:
            return pd.DataFrame(columns=["job", "partner_res", "poi_res"])
        pxyz = p[["x", "y", "z"]].to_numpy()
        qxyz = q[["x", "y", "z"]].to_numpy()
        dist2 = ((qxyz[:, None, :] - pxyz[None, :, :]) ** 2).sum(axis=2)
        qi, pi = np.nonzero(dist2 <= d2)  # radius-inclusive (NeighborSearch)
        out = pd.DataFrame(
            {
                "job": pdf["job"].iloc[0],
                "partner_res": q["residue_id"].to_numpy()[qi],
                "poi_res": p["residue_id"].to_numpy()[pi],
            }
        )
        return out.drop_duplicates()

    return tagged.groupBy("job").applyInPandas(
        per_job, "job string, partner_res int, poi_res int"
    )


def contact_map(contacts: DataFrame) -> DataFrame:
    """O22 (:239-249): distinct POI contacts per partner residue,
    sorted for deterministic hashing (reference used an unordered set)."""
    return contacts.groupBy("job", "partner_res").agg(
        F.sort_array(F.collect_set("poi_res")).alias("poi_contacts")
    )
