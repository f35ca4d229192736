"""Hypothesis property tests for the gaps-and-islands kernel (SURVEY §5.2 #3)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from process_alphafold3_outputs_spark.operators.islands import find_islands
from process_alphafold3_outputs_spark.params import (
    PARTNER_ISLAND_MAX_GAP,
    POI_ISLAND_MAX_GAP,
)
from process_alphafold3_outputs_spark.plans.pipeline import two_level_islands

from .reference_model import grouped, report_rows

value_sets = st.sets(st.integers(min_value=0, max_value=200), min_size=0, max_size=60)
gaps = st.integers(min_value=1, max_value=5)
lengths = st.integers(min_value=1, max_value=6)


@pytest.fixture(scope="module")
def islands_runner(spark):
    def run(values: set[int], max_gap: int, min_length: int):
        if not values:
            return {}
        df = spark.createDataFrame(
            [("g", v) for v in sorted(values)], "grp string, v int"
        )
        kept = find_islands(df, ["grp"], "v", max_gap, min_length).collect()
        out: dict[int, list[int]] = {}
        for r in kept:
            out.setdefault(r.island_start, []).append(r.v)
        return {k: sorted(vs) for k, vs in out.items()}

    return run


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(values=value_sets, max_gap=gaps, min_length=lengths)
def test_islands_match_reference_algorithm(islands_runner, values, max_gap, min_length):
    got = islands_runner(values, max_gap, min_length)
    want = {
        g[0]: g for g in grouped(sorted(values), max_gap=max_gap, min_length=min_length)
    }
    assert got == want
    # invariants: island sizes >= min_length; intra-island gaps <= max_gap
    for start, members in got.items():
        assert len(members) >= min_length
        assert start == min(members)
        assert all(b - a <= max_gap for a, b in zip(members, members[1:]))


# ---------------------------------------------------------------------------
# two_level_islands vs the reference model (grouped + report_rows)
# ---------------------------------------------------------------------------
def _runs(draw, max_gap: int, n_runs: int, max_len: int, start: int) -> list[int]:
    """Values in runs: steps inside a run are 0..max_gap (0 repeats a
    value), steps between runs are max_gap + 1 or max_gap + 2, and run
    lengths cover min_length - 1."""
    vals, cur = [], start
    for k in range(n_runs):
        if k:
            cur += draw(st.sampled_from([max_gap + 1, max_gap + 2]))
        for i in range(draw(st.integers(1, max_len))):
            cur += draw(st.integers(0, max_gap)) if i else 0
            vals.append(cur)
    return vals


@st.composite
def contact_sets(draw):
    """Per job, a list of (partner_res, poi_res) contact rows: several
    rows per partner residue, exact duplicates allowed."""
    jobs = {}
    for job in ("j0", "j1"):
        rows = []
        partners = _runs(draw, PARTNER_ISLAND_MAX_GAP, draw(st.integers(1, 4)), 4,
                         draw(st.integers(1, 5)))
        for pr in partners:
            pois = _runs(draw, POI_ISLAND_MAX_GAP, draw(st.integers(1, 2)), 4,
                         draw(st.integers(1, 12)))
            rows += [(pr, poi) for poi in pois]
        jobs[job] = rows
    return jobs


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(jobs=contact_sets())
def test_two_level_islands_match_reference_model(spark, jobs):
    rows = [(job, p, c) for job, pairs in jobs.items() for p, c in pairs]
    contacts = spark.createDataFrame(rows, "job string, partner_res int, poi_res int")
    got = sorted(
        (r.job, f"{r.p_min}-{r.p_max}", f"{r.c_min}-{r.c_max}")
        for r in two_level_islands(contacts).collect()
    )
    want = []
    for job, pairs in jobs.items():
        cmap: dict[int, set[int]] = {}
        for p, c in pairs:
            cmap.setdefault(p, set()).add(c)
        seq = "X" * 200
        want += [(j, p_rng, c_rng) for j, c_rng, _, p_rng, _ in report_rows(job, cmap, seq, seq)]
    assert got == sorted(want)
