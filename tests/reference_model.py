"""Pure-Python model of the reference semantics (SURVEY §2.2), written
independently from the documented behaviour of
/root/reference/process_af3_outputs.py — used ONLY as a differential
test oracle for the Spark pipeline. Not imported by the engine.
"""

from __future__ import annotations

import math

POI, PARTNER = "A", "B"
CHAIN_INDEX = {c: i for i, c in enumerate("ABCDE")}


def grouped(sorted_vals: list[int], max_gap: int, min_length: int) -> list[list[int]]:
    """Gaps-and-islands over a sorted int list (:253-286 semantics)."""
    if not sorted_vals:
        return []
    out: list[list[int]] = []
    run = [sorted_vals[0]]
    for prev, nxt in zip(sorted_vals, sorted_vals[1:]):
        if nxt - prev <= max_gap:
            run.append(nxt)
        else:
            if len(run) >= min_length:
                out.append(run)
            run = [nxt]
    if len(run) >= min_length:
        out.append(run)
    return out


def _default0(v) -> float:
    """Missing key -> 0 (``.get(k, 0)``, :82-83); pandas surfaces the
    missing value as NaN, which gets the same default."""
    return 0.0 if v is None or v != v else float(v)


def screen_job(pred: dict, min_iptm=0.0, min_ptm=0.0, max_pae=15.0,
               poi=POI, partner=PARTNER) -> bool:
    iptm = _default0(pred["iptm"])
    ptm = _default0(pred["ptm"])
    if iptm < min_iptm or ptm < min_ptm:
        return False
    mat = pred["chain_pair_pae_min"]
    pi, qi = CHAIN_INDEX[poi], CHAIN_INDEX[partner]
    if mat is None or pi >= len(mat) or qi >= len(mat[pi]):
        return False
    return mat[pi][qi] < max_pae


def interacting_residues(
    pae: dict[tuple[int, int], float],
    n_tokens: int,
    chain_lengths: list[int],
    max_pae=15.0,
    min_residues=5,
    poi=POI,
    partner=PARTNER,
) -> list[int]:
    pi, qi = CHAIN_INDEX[poi], CHAIN_INDEX[partner]
    if pi >= len(chain_lengths) or qi >= len(chain_lengths):
        return []
    sp = sum(chain_lengths[:pi])
    ep = sp + chain_lengths[pi]
    sq = sum(chain_lengths[:qi])
    eq = sq + chain_lengths[qi]
    if sq >= n_tokens or eq > n_tokens:
        return []
    out = []
    for col in range(sq, eq):
        cnt = sum(1 for row in range(sp, ep) if pae[(row, col)] < max_pae)
        if cnt >= min_residues:
            out.append(col - sq + 1)
    return out


def contact_map(
    atoms: list[dict], interacting: list[int], max_dist=8.0, poi=POI, partner=PARTNER
) -> dict[int, set[int]]:
    poi_atoms = [a for a in atoms if a["chain_id"] == poi and a["is_aa"] and a["model_id"] == 0]
    cmap: dict[int, set[int]] = {}
    for a in atoms:
        if (
            a["model_id"] != 0
            or a["chain_id"] != partner
            or not a["is_aa"]
            or a["residue_id"] not in interacting
        ):
            continue
        for p in poi_atoms:
            d = math.dist((a["x"], a["y"], a["z"]), (p["x"], p["y"], p["z"]))
            if d <= max_dist:  # NeighborSearch radius is inclusive
                cmap.setdefault(a["residue_id"], set()).add(p["residue_id"])
    return cmap


def report_rows(job, cmap, poi_seq, partner_seq) -> list[tuple]:
    rows = []
    for grp in grouped(sorted(cmap), max_gap=1, min_length=3):
        union: set[int] = set()
        for k in grp:
            union |= cmap[k]
        for cg in grouped(sorted(union), max_gap=2, min_length=3):
            rows.append(
                (
                    job,
                    f"{min(cg)}-{max(cg)}",
                    poi_seq[min(cg) - 1 : max(cg)],
                    f"{min(grp)}-{max(grp)}",
                    partner_seq[min(grp) - 1 : max(grp)],
                )
            )
    return rows


def full_pipeline(corpus: dict, poi=POI, partner=PARTNER, min_residues=5) -> list[tuple]:
    """Expected report rows for a fixtures.make_corpus() dict."""
    preds = corpus["predictions"].to_dict("records")
    chains = corpus["chains"]
    atoms_df = corpus["atoms"]
    pae_df = corpus["pae_long"]
    rows: list[tuple] = []
    for pred in preds:
        job = pred["job"]
        if not screen_job(pred, poi=poi, partner=partner):
            continue
        ch = chains[chains.job == job].sort_values("chain_index")
        chain_lengths = ch.token_length.tolist()
        jp = pae_df[pae_df.job == job]
        n_tokens = int(jp.aligned_token.max()) + 1
        pae = {
            (int(r.scored_token), int(r.aligned_token)): float(r.pae)
            for r in jp.itertuples()
        }
        inter = interacting_residues(
            pae, n_tokens, chain_lengths, min_residues=min_residues,
            poi=poi, partner=partner,
        )
        atoms = atoms_df[atoms_df.job == job].to_dict("records")
        cmap = contact_map(atoms, inter, poi=poi, partner=partner)
        poi_seq = ch[ch.chain_id == poi].sequence.iloc[0]
        partner_seq = ch[ch.chain_id == partner].sequence.iloc[0]
        rows.extend(report_rows(job, cmap, poi_seq, partner_seq))
    return rows
