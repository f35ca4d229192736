"""Plan contracts: the physical-plan properties the 100 TB design relies
on must not regress — pushdown into scans, column pruning, broadcast
join selection. (`.explain`-as-a-test, per SURVEY §4.)"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from process_alphafold3_outputs_spark.operators.intervals import (
    identify_interacting_residues,
)
from process_alphafold3_outputs_spark.params import ScreenParams


def formatted_plan(df) -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_filter_and_projection_reach_parquet_scan(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.filter(F.col("l_quantity") > 45.0).select("l_orderkey", "l_quantity")
    plan = formatted_plan(q)
    assert "GreaterThan(l_quantity,45.0)" in plan  # predicate pushdown
    assert "struct<l_orderkey:bigint,l_quantity:double>" in plan  # pruning


def test_pae_cutoff_pushed_into_scan(spark, af3):
    ir = identify_interacting_residues(af3["pae_long"], af3["chains"], ScreenParams())
    plan = formatted_plan(ir)
    assert "LessThan(pae,15.0)" in plan  # I7: filter BEFORE the N² table leaves disk


def test_bounds_join_carries_no_broadcast_hint(spark, af3):
    """``bounds`` is one-row-per-job — linear in corpus size — so the
    kernel must NOT force-broadcast it (driver OOM at 10^8 jobs). Join
    strategy is AQE's call: broadcast when small, shuffle join when not
    (VERDICT r1 #1)."""
    ir = identify_interacting_residues(af3["pae_long"], af3["chains"], ScreenParams())
    analyzed = ir._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed and "UnresolvedHint" not in analyzed

    from process_alphafold3_outputs_spark.plans.sweep import (
        sweep_grid,
        sweep_interacting_residues,
    )

    sw = sweep_interacting_residues(
        af3["pae_long"], af3["chains"], sweep_grid([8.0, 15.0], [3, 5])
    )
    analyzed_sw = sw._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed_sw and "UnresolvedHint" not in analyzed_sw


def test_default_width_source_scans_pae_once(spark, af3):
    """width_source="chains" (the default) must not add a second full
    pass over pae_long — the chains-derived width saves one scan of the
    biggest table (VERDICT r1 #5)."""
    p = ScreenParams()
    chains_plan = formatted_plan(
        identify_interacting_residues(
            af3["pae_long"], af3["chains"], p, width_source="chains"
        )
    )
    pae_plan = formatted_plan(
        identify_interacting_residues(
            af3["pae_long"], af3["chains"], p, width_source="pae"
        )
    )
    default_plan = formatted_plan(
        identify_interacting_residues(af3["pae_long"], af3["chains"], p)
    )
    # each scan node prints its Location exactly once in the details
    assert chains_plan.count("pae_long.parquet") == 1
    assert pae_plan.count("pae_long.parquet") == 2
    assert default_plan.count("pae_long.parquet") == 1


def _scans(plan: str, table: str) -> int:
    # each scan node prints its Location exactly once in the details
    return plan.count(f"{table}.parquet")


def test_flagship_reads_each_table_once(spark, af3):
    """The flagship is one flat DAG: every intermediate is referenced
    once, so pae_long, predictions and the screened contacts are read
    once; atoms twice (the contact join's two sides) and chains twice
    (the per-job bounds row, pruned differently for the PAE kernel and
    for the report's sequences). Shuffle exchanges: the interval
    window, the PAE count aggregate, the two grid-join sides and the
    partner-island window."""
    import re

    from process_alphafold3_outputs_spark.plans.pipeline import interaction_report
    from process_alphafold3_outputs_spark.plans.sweep import (
        sweep_grid,
        sweep_interacting_residues,
    )

    plan = formatted_plan(
        interaction_report(
            af3["predictions"], af3["chains"], af3["pae_long"], af3["atoms"],
            ScreenParams(),
        )
    )
    assert _scans(plan, "pae_long") == 1
    assert _scans(plan, "predictions") == 1
    assert _scans(plan, "atoms") <= 2
    assert _scans(plan, "chains") <= 2
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 5

    sweep = formatted_plan(
        sweep_interacting_residues(
            af3["pae_long"], af3["chains"], sweep_grid([8.0, 15.0], [3, 5])
        )
    )
    assert _scans(sweep, "chains") == 1
    assert _scans(sweep, "pae_long") == 1


def test_dim_joins_broadcast(spark, sf_dir):
    from process_alphafold3_outputs_spark.plans.driver_queries import (
        revenue_per_nation,
    )

    plan = formatted_plan(revenue_per_nation(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2  # nation + region at minimum


def test_screen_is_scan_plus_filter_only(spark, af3):
    from process_alphafold3_outputs_spark.operators.screen import screen_binders

    plan = formatted_plan(screen_binders(af3["predictions"], ScreenParams()))
    assert "Exchange" not in plan  # the screen must not shuffle


def test_corpus_clean_staged_scans_corpus_once(spark, sf_dir):
    """The composed cleaning pipeline fans out into 4+ branches (sizes,
    prefix index, candidate join, verification, final anti-join);
    Catalyst does not share non-identical subplans, so unstaged the raw
    corpus is scanned 11x. stage=True persists the two fan-out points —
    the parquet must be scanned exactly once."""
    from process_alphafold3_outputs_spark.plans.corpus import clean_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # clear first, and probe unstaged BEFORE staged: once anything (this
    # test or an earlier oracle run) persists these subplans, Spark's
    # CacheManager substitutes them into later logically-EQUAL plans
    spark.catalog.clearCache()
    unstaged = formatted_plan(clean_corpus(docs, stage=False))
    assert unstaged.count("documents.parquet") > 1
    staged = formatted_plan(clean_corpus(docs, stage=True))
    assert staged.count("documents.parquet") == 1
    spark.catalog.clearCache()


def test_multiprobe_lsh_broadcasts_queries_not_corpus(spark, sf_dir):
    """Multi-probe LSH must broadcast the (tiny, ×n_probe-fanned) query
    side and stream the corpus through a BroadcastHashJoin — the corpus
    must NOT shuffle by bucket before the join (at 100 TB that exchange
    is the whole cost; only the final per-query rank window may
    exchange the few candidate rows)."""
    from process_alphafold3_outputs_spark.operators.similarity import (
        topk_lsh_multiprobe,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = formatted_plan(
        topk_lsh_multiprobe(emb, F.col("vec_id") < 5, k=3, n_planes=6, n_probe=3)
    )
    assert "BroadcastHashJoin" in plan
    # the corpus must never be hash-shuffled by bucket; the only
    # required exchange is the rank window over scored candidates
    # (keyed by query_id). spread()'s REPARTITION_BY_NUM exchanges are
    # local-mode parallelism only and don't exist on a real cluster.
    assert "hashpartitioning(bucket" not in plan
    assert plan.count("ENSURE_REQUIREMENTS") == 1


def test_staged_clean_corpus_releases_storage(spark, sf_dir):
    """The context-managed form must leave NO pinned blocks after exit
    (VERDICT r2 minor: clean_corpus(stage=True) persisted two DataFrames
    and never unpersisted)."""
    from process_alphafold3_outputs_spark.plans.corpus import staged_clean_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    spark.catalog.clearCache()
    # Baseline-relative: earlier tests in the shared session may have
    # localCheckpoint()ed RDDs (connected components) whose pins survive
    # clearCache(); only pins created INSIDE the context must be gone.
    baseline = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    with staged_clean_corpus(docs) as surv:
        assert surv.count() > 0  # materialise => the stages ARE persisted
        inside = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
        assert inside - baseline
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    assert after - baseline == set()


def test_corpus_to_training_no_extra_corpus_scan(spark, sf_dir):
    """clean → chunk → split composes onto the SURVIVORS of the staged
    clean plan: the chunker is a narrow projection and the split a pure
    column, so the raw corpus scan count must not grow vs clean_corpus
    (still exactly one parquet scan)."""
    from process_alphafold3_outputs_spark.plans.corpus import corpus_to_training

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    spark.catalog.clearCache()
    plan = formatted_plan(corpus_to_training(docs, stage=True))
    assert plan.count("documents.parquet") == 1
    spark.catalog.clearCache()


def test_gopher_quality_is_narrow_plan(spark, sf_dir):
    """The Gopher rule bundle is a pure projection — no shuffle at any
    corpus size."""
    from process_alphafold3_outputs_spark.operators import text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = formatted_plan(text.gopher_quality(docs))
    assert "Exchange" not in plan


def test_tfidf_broadcasts_vocab_and_corpus_count(spark, sf_dir):
    """tf-idf joins must broadcast the vocabulary-sized df table and the
    one-row corpus count back onto the doc-keyed term counts — never
    shuffle the counts by term for the join."""
    from process_alphafold3_outputs_spark.operators import text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = formatted_plan(text.tfidf_top_terms(docs))
    assert plan.count("BroadcastExchange") >= 2
    # the top-k window partitions by doc_id — never a global
    # single-partition window
    assert "windowspecdefinition(doc_id" in plan


def test_bloom_decontaminate_single_corpus_shuffle(spark, sf_dir):
    """The Bloom screen's only corpus shuffle is the doc-keyed count
    aggregation; the bitmap rides a broadcast, and no shingle-keyed
    exchange of the corpus exists (that is the exact path's shape)."""
    from process_alphafold3_outputs_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 19 == 0)
    bmp = dedup.bloom_bitmap(bench, m_bits=1 << 16, k_hashes=2, shingle_k=3)
    plan = formatted_plan(
        dedup.decontaminate_bloom(docs, bmp, m_bits=1 << 16, k_hashes=2)
    )
    assert "BroadcastExchange" in plan
    # one hashpartitioning exchange: the doc_id aggregation (plus AQE
    # shuffle reads); no exchange keyed by shingle
    assert "hashpartitioning(shingle" not in plan
    assert plan.count("Exchange hashpartitioning(doc_id") <= 2


def test_histogram_sketch_single_shuffle_to_bins(spark, sf_dir):
    """The histogram build shuffles ONE (group, bin) count table —
    partial aggregation must appear before the exchange (map-side
    combine: n_bins rows per group cross the wire, not the data)."""
    from process_alphafold3_outputs_spark.operators.sketches import (
        histogram_quantiles,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = histogram_quantiles(
        li, "l_returnflag", "l_extendedprice", 0.0, 110000.0, 64, qs=(0.5,)
    )
    plan = formatted_plan(q)
    # map-side combine: the bin-count aggregate runs in partial mode
    # below the exchange (formatted plans mark it partial_count)
    assert "partial_count" in plan
    # raw value column pruned to exactly what the bin expression needs
    assert "struct<l_extendedprice:double,l_returnflag:string>" in plan


def test_entity_resolution_broadcasts_vocab_tables(spark, sf_dir):
    """Row labeling joins against vocabulary-sized tables (canon map,
    entity ids) — those joins must be broadcasts, never a corpus-sized
    sort-merge."""
    from process_alphafold3_outputs_spark.operators.entity import (
        resolve_entities,
    )

    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    q = resolve_entities(part, "p_partkey", "p_name", max_distance=3)
    plan = formatted_plan(q)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_hll_register_agg_is_map_side_combined(spark, sf_dir):
    from process_alphafold3_outputs_spark.operators.sketches import (
        hll_deterministic,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = hll_deterministic(li, "l_returnflag", "l_partkey")
    plan = formatted_plan(q)
    assert "partial_max" in plan  # per-register rho max combines map-side
    assert "CartesianProduct" not in plan


def test_bpe_pair_count_is_map_side_combined(spark):
    from process_alphafold3_outputs_spark.operators import bpe

    docs = spark.createDataFrame(
        [(0, "low lower lowest")], "doc_id long, text string"
    )
    q = bpe._pair_counts(bpe.word_vocab(docs))
    plan = formatted_plan(q)
    assert "partial_sum" in plan  # weighted pair counts combine map-side


def test_ivf_search_broadcasts_centroids_and_joins_on_cell(spark, sf_dir):
    """Prebuilt-index search: the quantizer table broadcasts (it is
    cells-sized); the corpus-sized index is reached ONLY through the
    cell-keyed equi-join — no cartesian anywhere."""
    from process_alphafold3_outputs_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids,
        ivf_search,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = ivf_centroids(emb, n_cells=4)
    index = ivf_assign(emb, cents).select("vec_id", "cell", "vec")
    q = ivf_search(index, cents, emb.limit(5), k=3, n_probe=2)
    plan = formatted_plan(q)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_corpus_clean_banded_scans_once_and_has_no_pair_join(spark, sf_dir):
    """The banded drop path must (a) stage to ONE corpus scan like the
    pair modes and (b) contain no doc-pair self-join anywhere — the
    whole point is that its shuffle and output are linear in the band
    table. The plan's only joins are the bucket-min join back onto the
    band table and the final anti-join."""
    from process_alphafold3_outputs_spark.plans.corpus import clean_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    spark.catalog.clearCache()
    plan = formatted_plan(
        clean_corpus(docs, stage=True, near_dedup="minhash_bands")
    )
    assert plan.count("documents.parquet") == 1
    # the Jaccard pair machinery must be absent: no shingle-equality
    # self-join condition (doc_a < doc_b) appears in the banded plan
    assert "doc_a" not in plan and "doc_b" not in plan
    spark.catalog.clearCache()


def test_dsir_ratio_table_broadcasts_onto_doc_buckets(spark, sf_dir):
    """The m-row log-ratio table must reach the per-doc contribution
    join as a BroadcastHashJoin (never a corpus shuffle by bucket)."""
    from process_alphafold3_outputs_spark.operators.text import (
        dsir_log_weights,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = formatted_plan(
        dsir_log_weights(docs, docs.filter(F.col("lang") == "en"),
                         m_buckets=64)
    )
    assert "BroadcastHashJoin" in plan


def test_ivfpq_broadcasts_model_tables_and_joins_on_cell(spark, sf_dir):
    """Centroids, codebooks, probes and ADC tables are broadcast; the
    only corpus-sized join keys on cell."""
    from process_alphafold3_outputs_spark.operators.similarity import (
        topk_ivfpq,
    )
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = formatted_plan(
        topk_ivfpq(emb, F.col("vec_id") < 4, k=3, n_cells=8, n_probe=2)
    )
    assert "BroadcastHashJoin" in plan
    # the candidate join on cell must not shuffle the coded corpus side
    # into a SortMergeJoin
    assert "SortMergeJoin" not in plan


def test_c4_quality_is_exchange_free(spark, sf_dir):
    from process_alphafold3_outputs_spark.operators import text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = formatted_plan(text.c4_quality(docs))
    assert "Exchange" not in plan  # narrow projection — no shuffle


def test_epoch_expand_is_exchange_free(spark, sf_dir):
    from process_alphafold3_outputs_spark.operators import text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = formatted_plan(
        text.epoch_expand(docs, {"src0": 2.5, "src1": 0.5})
    )
    assert "Exchange" not in plan  # literal map + bounded explode


def test_ccnet_cutpoints_join_is_broadcast(spark, sf_dir):
    """The languages-sized tier-cutpoint table must broadcast back onto
    the scored corpus — never a corpus-by-language shuffle."""
    from process_alphafold3_outputs_spark.operators import text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = formatted_plan(text.ccnet_buckets(docs))
    assert "BroadcastHashJoin" in plan


def test_containment_clean_scans_corpus_once(spark, sf_dir):
    """clean_corpus(near_dedup="containment", stage=True) shares the
    staged survivor/shingle subtrees exactly like the greedy mode — the
    raw corpus parquet must appear in the plan exactly once."""
    from process_alphafold3_outputs_spark.plans.corpus import clean_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    spark.catalog.clearCache()
    plan = formatted_plan(
        clean_corpus(docs, stage=True, near_dedup="containment")
    )
    assert plan.count("documents.parquet") == 1
    spark.catalog.clearCache()


def test_doremi_iteration_is_corpus_free(spark, sf_dir):
    """DoReMi's EG iteration must run on the checkpointed domains-sized
    table: the RETURNED plan may contain no corpus scan and no token
    explode (without the lineage cuts each step re-embedded and
    re-executed the tokenization — 24 Generate nodes at iters=2). The
    single tokenization itself is pinned by construction: the
    per-(domain, token) table is localCheckpoint-materialized before
    its three consumers fan out."""
    from process_alphafold3_outputs_spark.operators.text import (
        doremi_mixture,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = formatted_plan(doremi_mixture(docs, iters=3))
    assert "documents.parquet" not in plan
    assert "Generate" not in plan


def test_decontaminate_multi_broadcasts_benchmark_union(spark, sf_dir):
    """The multi-benchmark screen must reach the corpus as a
    BroadcastHashJoin on the unioned benchmark shingle set — the corpus
    is never sort-merge shuffled by shingle no matter how many
    benchmarks screen it."""
    from pyspark.sql import functions as F

    from process_alphafold3_outputs_spark.operators.dedup import (
        decontaminate_multi,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    benchmarks = (
        docs.filter(F.col("doc_id") % 19 == 0)
        .select("doc_id", "text")
        .withColumn("bench_id", F.lit("b"))
    )
    plan = formatted_plan(decontaminate_multi(docs, benchmarks))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_merge_upsert_is_one_agg_no_join(spark):
    """MERGE must stay a union + one hash aggregation: a join-based
    rewrite would sort/shuffle the 100 TB target against the batch; the
    agg form moves the target once with map-side combine (SURVEY §4)."""
    from process_alphafold3_outputs_spark.operators.maintenance import (
        merge_upsert,
    )

    t = spark.range(1000).selectExpr("id AS k", "'a' AS name", "id AS v")
    u = spark.range(10).selectExpr(
        "id AS k", "'b' AS name", "id AS v", "id % 2 = 0 AS d"
    )
    import re

    plan = formatted_plan(merge_upsert(t, u, ["k"], delete_col="d"))
    assert "Join type:" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "partial_max_by" in plan  # map-side combine before the wire
    assert "Union" in plan


def test_apply_changelog_two_keyed_exchanges(spark):
    """Fold + merge: exactly two key-hashed shuffles, both partial
    (map-side combined), no join anywhere."""
    from process_alphafold3_outputs_spark.operators.maintenance import (
        apply_changelog,
    )

    s = spark.range(1000).selectExpr("id AS k", "'a' AS name", "id AS v")
    c = spark.range(100).selectExpr(
        "id % 50 AS k", "'b' AS name", "id AS v", "id AS seq",
        "CASE WHEN id % 7 = 0 THEN 'D' ELSE 'U' END AS op",
    )
    import re

    plan = formatted_plan(apply_changelog(s, c, ["k"]))
    assert "Join type:" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2
    assert "partial_max_by" in plan


def test_scd2_history_bypasses_the_join(spark):
    """Only the current slice meets the update batch: the is_current
    filter must be pushed into both join legs' scans so closed history
    rows never enter a join."""
    from process_alphafold3_outputs_spark.operators.maintenance import (
        scd2_apply,
    )

    dim = spark.range(1000).selectExpr(
        "id AS k", "'x' AS seg", "CAST(0 AS LONG) AS valid_from",
        "CAST(NULL AS LONG) AS valid_to", "id % 2 = 0 AS is_current",
    )
    upd = spark.range(10).selectExpr(
        "id AS k", "'y' AS seg", "CAST(5 AS LONG) AS effective"
    )
    plan = formatted_plan(scd2_apply(dim, upd, ["k"], ["seg"]))
    # both join inputs carry the is_current predicate; the history
    # branch carries NOT is_current and reaches the output join-free
    assert "is_current" in plan
    # the two joins (close-side left join + open-side left join) are
    # the ONLY joins, and each joins the filtered current slice
    assert plan.count("Join type:") == 2


def test_ranking_metrics_joins_are_eval_sized(spark):
    """The metric computation never touches a corpus: its plan is
    joins/windows over the two eval-sized inputs only (no Exchange of
    anything larger than the hits/qrels tables — structurally, no scan
    appears beyond the two inputs)."""
    from process_alphafold3_outputs_spark.operators.ranking import (
        ranking_metrics,
    )

    hits = spark.range(100).selectExpr(
        "id % 10 AS query_id", "id AS doc_id",
        "CAST(id % 10 + 1 AS INT) AS rank"
    )
    qrels = spark.range(50).selectExpr(
        "id % 10 AS query_id", "id AS doc_id", "CAST(1 AS INT) AS rel"
    )
    plan = formatted_plan(ranking_metrics(hits, qrels, k=5))
    assert plan.count("Scan ExistingRDD") == 0  # pure Range inputs
    assert "Window" in plan


def test_drift_sides_reduce_before_meeting(spark, sf_dir):
    """KS: each snapshot collapses to its distinct-value counts BEFORE
    the cross-side full-outer join — the join keys are aggregate
    outputs, so the shuffle that matters is the per-side groupBy, and
    the meeting table is value-bounded."""
    from process_alphafold3_outputs_spark.operators.drift import (
        ks_distance,
    )

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    plan = formatted_plan(ks_distance(o, o, "o_totalprice"))
    join_pos = plan.find("SortMergeJoin")
    if join_pos == -1:
        join_pos = plan.find("Join")
    # the aggregation nodes appear below (later in formatted text than)
    # the join header only if they feed it; assert both sides aggregated
    assert plan.count("HashAggregate") >= 4  # partial+final per side


def test_file_stats_listing_prunes_content(spark, tmp_path):
    """file_stats is a binaryFile scan whose ReadSchema carries ONLY
    path+length — the content column is pruned, so BinaryFileFormat
    never opens a file: the listing stays metadata-sized at any file
    count (the per-file Py4J walk it replaced read 51 s at 10 K
    files)."""
    from process_alphafold3_outputs_spark.sources.layout import file_stats

    d = str(tmp_path / "tbl")
    spark.range(10).selectExpr("id", "id % 2 AS g").write.partitionBy(
        "g"
    ).parquet(d)
    plan = formatted_plan(file_stats(spark, d, ["g"]))
    assert "binaryFile" in plan
    assert "content" not in plan  # pruned: never reads file bytes
    assert "path" in plan and "length" in plan


def test_profile_table_is_one_scan(spark, sf_dir):
    """The per-column profile fuses EVERY column's stats into one
    aggregation over ONE scan — N columns must never cost N corpus
    scans. The exact-distinct rewrite (Expand) multiplies rows
    AFTER the scan, map-side."""
    import re

    from process_alphafold3_outputs_spark.operators.profiling import (
        profile_table,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = formatted_plan(profile_table(docs, ["doc_id", "lang", "source"]))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Expand" in plan  # one-scan exact multi-distinct form
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2


def test_top_values_is_one_scan_bounded_window(spark, sf_dir):
    """Heavy hitters: one unpivot scan, keyed agg with map-side
    combine, window only over aggregate-bounded (col, value) rows."""
    import re

    from process_alphafold3_outputs_spark.operators.profiling import (
        top_values,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = formatted_plan(top_values(docs, ["lang", "source"], k=5))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "partial_count" in plan  # map-side combine before the wire
    assert "Window" in plan


def test_gapfill_collapses_raw_stream_before_spine(spark, sf_dir):
    """time_bucket_gapfill: the raw event stream must collapse to
    (key, bucket) grain in ONE map-side-combined aggregation before any
    spine/fill work — the spine join and fill windows then run on
    bucket-bounded rows. No cartesian anywhere; the fill windows are
    key-partitioned (never a global single-partition sort)."""
    import re

    from process_alphafold3_outputs_spark.operators.temporal import (
        time_bucket_gapfill,
    )
    from process_alphafold3_outputs_spark.sources.tables import (
        event_seconds,
        load_table,
    )

    ev = load_table(spark, sf_dir, "events")
    e = ev.select("event_type", event_seconds(ev).alias("t"), "value")
    lazy = formatted_plan(
        time_bucket_gapfill(
            e, ["event_type"], "t", "value", 3600, fill="linear",
            checkpoint_buckets=False,
        )
    )
    assert "CartesianProduct" not in lazy
    assert "partial_avg" in lazy or "partial_count" in lazy  # map-side
    # fill windows are key-partitioned, not a global sort
    assert "Exchange SinglePartition" not in lazy
    # the DEFAULT form checkpoints the bucket-bounded aggregate, so the
    # returned plan must read the materialized table — the raw source
    # is scanned exactly ONCE (by the checkpoint job), never re-read by
    # the guard or the fill
    dflt = formatted_plan(
        time_bucket_gapfill(
            e, ["event_type"], "t", "value", 3600, fill="linear"
        )
    )
    assert "Scan parquet" not in dflt
    assert "ExistingRDD" in dflt


def test_ohlc_is_one_keyed_agg_no_window_no_join(spark, sf_dir):
    """ohlc_downsample: ONE hash aggregation (partial min_by/max_by
    below the single keyed exchange) — never a window over raw events,
    never a join."""
    import re

    from process_alphafold3_outputs_spark.operators.temporal import (
        ohlc_downsample,
    )
    from process_alphafold3_outputs_spark.sources.tables import (
        event_seconds,
        load_table,
    )

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type", event_seconds(ev).alias("t"), "event_id", "value"
    )
    plan = formatted_plan(
        ohlc_downsample(e, ["event_type"], "t", "value", 86400,
                        seq_col="event_id")
    )
    assert "Window" not in plan
    assert "Join type:" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "partial_min_by" in plan  # map-side combine before the wire


def test_rate_and_zscore_are_one_exchange(spark, sf_dir):
    """The monitoring windows partition by series key: ONE keyed
    exchange, no join, never a global single-partition sort."""
    import re

    from process_alphafold3_outputs_spark.operators.temporal import (
        rate_of_change,
        rolling_zscore,
    )
    from process_alphafold3_outputs_spark.sources.tables import (
        event_seconds,
        load_table,
    )

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type", event_seconds(ev).alias("t"), "event_id", "value"
    )
    for op in (
        lambda: rate_of_change(e, ["event_type"], "t", "value", "event_id"),
        lambda: rolling_zscore(e, ["event_type"], "t", "value", "event_id"),
    ):
        plan = formatted_plan(op())
        assert "Join type:" not in plan
        assert "Exchange SinglePartition" not in plan
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_candidate_keys_expand_factor_is_bounded(spark):
    """The exact candidate_keys plan replicates every scanned row once
    per distinct group via Expand — for m columns at max_arity=2 that
    is 1 + m + C(m,2) copies (the +1 is the plain row count's group).
    This pins the factor the max_exact_combos guard bounds: default cap
    45 combos == a 46-way Expand, the plan shape a 9-column exact pass
    ships to the cluster; anything wider must take approx=True (HLL++,
    no Expand)."""
    import re

    from process_alphafold3_outputs_spark.operators.profiling import (
        candidate_keys,
    )

    df = spark.range(5).selectExpr("id AS a", "id AS b", "id AS c")
    plan = formatted_plan(candidate_keys(df))
    expand = re.search(r"\(\d+\) Expand\n(?:.*\n)*?Arguments: (\[\[.*)", plan)
    assert expand, "exact form must plan multi-distinct via Expand"
    # one [..., gid] sub-list per distinct group: 1 + 3 cols + 3 pairs
    assert len(re.findall(r", \d+\]", expand.group(1))) == 7
    # the sketch path carries NO Expand at any width
    assert "Expand" not in formatted_plan(candidate_keys(df, approx=True))


def test_r14_kernel_plan_shapes(spark):
    """The r14 kernels' scale claims, machine-pinned: cramers_v joins
    its margins as BROADCAST hash joins (category-sized sides, never
    SMJ); burstiness' guard-count and lag windows SHARE one user
    Exchange; calibration is a pure two-stage agg (no join, no
    window); stratified sampling broadcasts the domain-sized quota
    table; none of them plans a SortMergeJoin, CartesianProduct, or
    Python eval node."""
    from process_alphafold3_outputs_spark.operators.funnel import (
        inter_event_profile,
    )
    from process_alphafold3_outputs_spark.operators.profiling import (
        cramers_v,
    )
    from process_alphafold3_outputs_spark.operators.ranking import (
        calibration_summary,
    )
    from process_alphafold3_outputs_spark.operators.text import (
        sample_stratified,
    )

    def nodes(df, name):
        return formatted_plan(df).count(name) // 2  # tree + detail

    ab = spark.createDataFrame(
        [("a", "x")] * 3 + [("b", "y")] * 2, "a string, b string"
    )
    cv = cramers_v(ab, "a", "b", checkpoint_joint=False)
    p = formatted_plan(cv)
    assert p.count("BroadcastHashJoin") // 2 == 2
    for bad in ("SortMergeJoin", "CartesianProduct", "EvalPython"):
        assert bad not in p, bad

    ev = spark.createDataFrame(
        [(1, 10, 1), (1, 20, 2)], "user_id long, t long, event_id long"
    )
    bp = formatted_plan(inter_event_profile(ev, "user_id", "t"))
    # the hot-user count and the lag ride ONE user-keyed Exchange
    assert bp.count("Exchange") // 2 == 1
    assert "EvalPython" not in bp and "SortMergeJoin" not in bp

    sc = spark.createDataFrame([(0.5, 1)], "score double, y long")
    cp = formatted_plan(calibration_summary(sc, "score", "y"))
    assert "Join" not in cp and "Window" not in cp
    assert cp.count("Exchange") // 2 <= 2  # two-stage agg only

    docs = spark.createDataFrame(
        [(1, "a", 1)], "doc_id long, source string, w long"
    )
    sp = formatted_plan(sample_stratified(docs, 5, weight_col="w"))
    assert sp.count("BroadcastHashJoin") // 2 == 1
    assert "SortMergeJoin" not in sp and "CartesianProduct" not in sp


def test_filter_audit_staged_scans_corpus_once(spark, sf_dir):
    """r15 (judge item 3): the audit's normalize+LID stats projection is
    persisted and SHARED with the internal clean_corpus call (_base
    hook), so the corpus parquet is scanned exactly once — the duplicate
    normalize pass was the term that grows with text bytes at scale."""
    from process_alphafold3_outputs_spark.plans.corpus import filter_audit

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    spark.catalog.clearCache()
    plan = formatted_plan(filter_audit(docs, stage=True))
    assert plan.count("documents.parquet") == 1
    spark.catalog.clearCache()
