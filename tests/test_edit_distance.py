"""Lossless q-gram edit-distance join — differential vs the O(N^2)
brute force (the definitional oracle) plus contract guards."""

from __future__ import annotations

import random

import pytest

from pyspark.sql import functions as F

from process_alphafold3_outputs_spark.operators.dedup import (
    edit_distance_pairs,
)


def _brute(spark, docs, max_dist):
    a = docs.select(F.col("doc_id").alias("doc_a"),
                    F.col("text").alias("_ta"))
    b = docs.select(F.col("doc_id").alias("doc_b"),
                    F.col("text").alias("_tb"))
    return {
        (r.doc_a, r.doc_b): r.d
        for r in a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b",
            F.levenshtein("_ta", "_tb").alias("d"),
        )
        .filter(F.col("d") <= max_dist)
        .collect()
    }


def _pairs(spark, docs, max_dist, q=3, mode="auto"):
    return {
        (r.doc_a, r.doc_b): r.edit_distance
        for r in edit_distance_pairs(
            docs, max_dist, q=q, mode=mode
        ).collect()
    }


def test_edit_distance_matches_brute_force_randomized(spark):
    """60 strings over a 4-letter alphabet with heavy gram repetition
    (the multiset-count edge: distinct-gram counting over-prunes
    repetitive text) — kernel == brute force at several (d, q)."""
    rng = random.Random(77)
    base = ["".join(rng.choice("abcd") for _ in range(30))
            for _ in range(12)]
    rows = []
    i = 0
    for s in base:
        for _ in range(5):
            t = list(s)
            for _ in range(rng.randrange(0, 5)):
                op = rng.randrange(3)
                pos = rng.randrange(len(t))
                if op == 0:
                    t[pos] = rng.choice("abcd")
                elif op == 1 and len(t) > 25:
                    del t[pos]
                else:
                    t.insert(pos, rng.choice("abcd"))
            rows.append((i, "".join(t)))
            i += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for d, q in ((3, 3), (5, 2), (0, 3)):
        want = _brute(spark, docs, d)
        # BOTH candidate paths must equal the brute force: the PassJoin
        # segment/substring index and the full inverted-index count
        # filter (the 4-letter alphabet makes every gram hot — the
        # selective path's reason to exist). The corpus has VARIED
        # lengths (insert/delete mutations), so the PassJoin partner-
        # length probe grid is genuinely exercised.
        assert _pairs(spark, docs, d, q=q, mode="passjoin") == want, (
            d, q, "passjoin")
        assert _pairs(spark, docs, d, q=q, mode="countfilter") == want, (
            d, q, "countfilter")
    assert any(v > 0 for v in _brute(spark, docs, 5).values())


def test_edit_distance_repeated_gram_multiset_edge(spark):
    """Two strings built almost entirely of ONE repeated gram: their
    distinct-gram overlap is 1 but the multiset overlap is large — a
    distinct-count bound would drop the pair; the multiset bound must
    keep it."""
    docs = spark.createDataFrame(
        [(1, "a" * 30), (2, "a" * 29 + "b")], "doc_id long, text string"
    )
    assert _pairs(spark, docs, 2, q=3, mode="passjoin") == {(1, 2): 1}
    assert _pairs(spark, docs, 2, q=3, mode="countfilter") == {(1, 2): 1}


def test_edit_distance_guards(spark):
    docs = spark.createDataFrame(
        [(1, "abcdef"), (2, None)], "doc_id long, text string"
    )
    # 6 < q*(d+1) = 3*3: refused loudly IN-PATH at action time (the
    # former eager .count() guard cost one extra corpus scan per call);
    # plan construction itself must NOT raise
    for mode in ("passjoin", "countfilter"):
        plan = edit_distance_pairs(docs, 2, q=3, mode=mode)
        with pytest.raises(Exception, match="shorter than"):
            plan.collect()
    # auto mode hits the guard during its (by-design) gate probe
    with pytest.raises(Exception, match="shorter than"):
        edit_distance_pairs(docs, 2, q=3, mode="auto").collect()
    with pytest.raises(ValueError, match="max_dist"):
        edit_distance_pairs(docs, -1)
    with pytest.raises(ValueError, match="q must"):
        edit_distance_pairs(docs, 2, q=0)
    with pytest.raises(ValueError, match="mode must"):
        edit_distance_pairs(docs, 2, mode="nope")
    # at d=0 on exactly-min-length strings it runs (NULL text dropped)
    ok = spark.createDataFrame(
        [(1, "abc"), (2, "abc"), (3, None)], "doc_id long, text string"
    )
    assert _pairs(spark, ok, 0, q=3) == {(1, 2): 0}


def test_edit_distance_plan_build_is_lazy(spark):
    """Explicit-mode plan construction fires NO Spark job (the r12
    min-length guard ran an eager .count() — one extra full corpus
    scan per CALL at plan-build time; the guard now rides the text
    projection in-path, the LSH plane-dot pattern). mode='auto' is exempt:
    its hot-gram gate probe is a documented plan-build action."""
    docs = spark.createDataFrame(
        [(1, "a" * 30), (2, "a" * 29 + "b")], "doc_id long, text string"
    )
    sc = spark.sparkContext
    for mode in ("passjoin", "countfilter"):
        sc.setJobGroup(f"editdist-build-{mode}", "lazy-guard")
        df = edit_distance_pairs(docs, 2, q=3, mode=mode)
        ids = sc.statusTracker().getJobIdsForGroup(f"editdist-build-{mode}")
        sc.setJobGroup(f"editdist-build-{mode}-done", "done")
        assert list(ids) == [], mode
        # and the plan still executes correctly afterwards
        assert {(r.doc_a, r.doc_b, r.edit_distance)
                for r in df.collect()} == {(1, 2, 1)}, mode
