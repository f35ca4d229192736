"""Growth-proofing for the driver-facing bench/correctness channels.

r2-r4 lost their bench artifact to the same mechanism: the final stdout
JSON line embedded the full per-query map, suite growth pushed it past
the driver's 2000-char tail-capture window, and the head of the line
was truncated → ``"parsed": null``. These tests pin the two contracts
that prevent a recurrence:

1. ``bench.build_driver_line`` stays under the bound for ANY suite size
   (the embedded subset is fixed, not the full map).
2. ``__spark_entry__.queries()`` keeps the AF3/file parity block in the
   driver's observed ~50-row correctness window, in priority order.
"""

from __future__ import annotations

import json
import re

import bench
import __spark_entry__ as entry_mod


def test_driver_line_bounded_for_huge_suite():
    # 200-query suite with worst-case name lengths and long error strings
    timings = {f"very_long_query_name_number_{i:04d}": 123.456 for i in range(200)}
    # make sure every LINE_QUERIES name is present with a wide float so the
    # embedded subset is at its maximum width
    for q in bench.LINE_QUERIES:
        timings[q] = 9999.999
    errors = {f"failing_query_with_a_long_name_{i:03d}": "boom " * 200
              for i in range(40)}
    # worst-case-width spread for every timed query: the line embeds
    # only the LINE_QUERIES subset of mins, but hand it everything
    spread = {q: [9999.999, 99999.999] for q in timings}
    line = bench.build_driver_line(
        timings, errors, sf=0.1, n_runs=6, spread=spread)
    assert len(line) <= bench.MAX_LINE_LEN
    doc = json.loads(line)
    assert doc["metric"] == "headline_queries_total_runtime"
    assert doc["unit"] == "sec"
    assert doc["stat"] == "median"
    assert doc["n_queries"] == len(timings)
    assert doc["n_failed"] == 40
    # the noise-attribution channel: per-query min + suite loadavg
    assert set(doc["queries_min"]) == set(doc["queries"])
    assert all(doc["queries_min"][q] <= 9999.999 + 1e-9
               for q in doc["queries_min"])
    assert isinstance(doc["loadavg_1m"], float)
    assert len(doc["failed"]) == 10  # capped, count preserved above
    # every embedded query is from the fixed subset
    assert set(doc["queries"]) <= set(bench.LINE_QUERIES)
    assert doc["value"] == round(sum(timings.values()), 3)


def test_driver_line_parses_with_empty_suite():
    doc = json.loads(bench.build_driver_line({}, {}, sf=0.01, n_runs=1))
    assert doc["value"] == 0
    assert doc["queries"] == {}
    assert doc["failed"] == []


def test_line_queries_are_registered():
    """Every name in the fixed bench-line subset must exist in the
    benched HEADLINE list (or be the af3_flagship special) — a renamed
    query must not silently drop out of the driver line."""
    benched = set(bench.HEADLINE) | {"af3_flagship"}
    missing = [q for q in bench.LINE_QUERIES if q not in benched]
    assert not missing, f"LINE_QUERIES not benched: {missing}"


def test_bench_deferred_discipline():
    """BENCH_DEFERRED mirrors the correctness registry's _DEFERRED
    rules: deferred rows stay registered (still runnable + oracle-
    mirrored), never ALSO appear in HEADLINE, every representative
    named in the reason is itself benched, and the headline count
    stays under the driver's timeout ceiling."""
    from process_alphafold3_outputs_spark.plans import driver_queries as dq

    assert not set(bench.BENCH_DEFERRED) & set(bench.HEADLINE)
    unregistered = [q for q in bench.BENCH_DEFERRED if q not in dq._QUERIES]
    assert not unregistered, f"deferred but unregistered: {unregistered}"
    benched = set(bench.HEADLINE) | {"af3_flagship"}
    for name, reason in bench.BENCH_DEFERRED.items():
        reps = [
            r for r in re.findall(r"[a-z0-9_]{4,}", reason) if r in dq._QUERIES
        ]
        assert reps, f"{name}: reason names no registered representative"
        not_benched = [r for r in reps if r not in benched]
        assert not not_benched, f"{name}: representatives {not_benched} " \
                                f"not in HEADLINE"
    assert len(bench.HEADLINE) + 1 <= 140  # +1 = af3_flagship


def test_driver_window_order_and_cap():
    """The driver's correctness run was observed to stop after ~50
    queries; the AF3 parity pipeline and file-boundary rows — the
    reference's actual surface — must be FIRST, and the total visible
    count must fit the window."""
    q = list(entry_mod.queries())
    priority_block = entry_mod._PRIORITY[:16]
    assert q[:16] == priority_block
    assert all(n.startswith(("af3_", "file_")) for n in priority_block)
    # queries() itself truncates gracefully (never raises at driver
    # time) — THIS assert, on the pre-truncation count, is the loud
    # failure for a bookkeeping slip:
    assert entry_mod.visible_count() <= entry_mod._DRIVER_WINDOW, (
        f"{entry_mod.visible_count()} driver-visible queries exceed the "
        f"{entry_mod._DRIVER_WINDOW}-query window; add the overflow to "
        f"_DEFERRED in __spark_entry__.py"
    )
    assert len(q) <= entry_mod._DRIVER_WINDOW
    # every driver-visible query has an oracle unless explicitly waived
    oracles = entry_mod.oracle_sql()
    waived = {n for n in q if n not in oracles}
    # the weaker rows-only check is allowed but must stay deliberate:
    # anything here needs a docstring note in its query function
    assert waived <= getattr(entry_mod, "_NO_ORACLE_OK", waived)


def test_scale_probe_records_the_mode_the_pipeline_resolved(spark, sf_dir):
    """The corpus scale probe records the near-dup mode its timed runs
    took: the auto gate's memo entry for the post-exact-dedup survivors,
    not a fresh probe of the raw corpus under another memo key."""
    from process_alphafold3_outputs_spark.plans import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus.clear_auto_mode_cache()
    handles = []
    try:
        _, mode = bench._resolved_near_dedup(
            lambda: corpus.corpus_to_training(docs, handles=handles))
        resolved = {k[0]: v for k, v in corpus._AUTO_MODE_CACHE.items()}
        assert resolved == {"survivors": mode}
    finally:
        for h in handles:
            h.unpersist()
        corpus.clear_auto_mode_cache()
