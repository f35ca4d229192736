"""Fuzzy entity resolution (operators/entity.py): blocking, edit
distance, transitive closure, row-level mapping."""

from __future__ import annotations

from process_alphafold3_outputs_spark.operators import entity


def _resolve(spark, rows, max_distance=1):
    df = spark.createDataFrame(rows, "id long, name string")
    out = entity.resolve_entities(
        df, id_col="id", name_col="name", max_distance=max_distance
    )
    return {r.id: (r.name_norm, r.entity_id) for r in out.collect()}


def test_transitive_chain_merges_into_one_entity(spark):
    # aa~ab (1), ab~bb (1), but aa!~bb (2) — only the transitive
    # closure puts all three in one entity (the reason ER needs CC,
    # not a pairwise drop rule)
    got = _resolve(
        spark,
        [(10, "x aa"), (20, "x ab"), (30, "x bb"), (40, "x zz")],
        max_distance=1,
    )
    assert got[10][1] == got[20][1] == got[30][1] == 10
    assert got[40] == ("x zz", 40)  # singleton keeps its own id


def test_blocking_prevents_cross_block_matches(spark):
    # identical tails, different first token => different blocks =>
    # never compared (blocking is part of the match spec)
    got = _resolve(spark, [(1, "foo tail"), (2, "bar tail")], max_distance=3)
    assert got[1][1] == 1 and got[2][1] == 2


def test_normalization_and_exact_duplicates(spark):
    # case/whitespace variants normalize to one name; entity id is the
    # min row id across the whole cluster
    got = _resolve(
        spark,
        [(5, "  Hot   Rod "), (3, "hot rod"), (9, "hot rods")],
        max_distance=1,
    )
    assert got[5][0] == got[3][0] == "hot rod"
    assert got[5][1] == got[3][1] == got[9][1] == 3


def test_match_pairs_are_distinct_name_level(spark):
    names = spark.createDataFrame(
        [("a x",), ("a x",), ("a y",)], "name string"
    )
    pairs = entity.name_match_pairs(names, "name", max_distance=1)
    assert [(r.name_a, r.name_b) for r in pairs.collect()] == [("a x", "a y")]


# -- incremental + streaming -------------------------------------------------

def test_incremental_adoption_and_new_entities(spark):
    from process_alphafold3_outputs_spark.operators.entity import (
        incremental_resolve,
    )

    canon = spark.createDataFrame(
        [("hot rod", 3), ("cold bolt", 7)], "name_norm string, entity_id long"
    )
    ship = spark.createDataFrame(
        [
            (100, "Hot  Rod"),    # exact adoption -> 3
            (101, "hot rods"),    # fuzzy adoption (lev 1) -> 3
            (102, "zz aa"),       # new entity, clusters with 103
            (103, "zz ab"),
            (104, "qq qq"),       # new singleton entity
        ],
        "id long, name string",
    )
    labeled, updated = incremental_resolve(
        ship, canon, id_col="id", name_col="name", max_distance=1
    )
    got = {r.id: r.entity_id for r in labeled.collect()}
    assert got == {100: 3, 101: 3, 102: 102, 103: 102, 104: 104}
    up = {r.name_norm: r.entity_id for r in updated.collect()}
    assert up == {
        "hot rod": 3, "cold bolt": 7, "hot rods": 3,
        "zz aa": 102, "zz ab": 102, "qq qq": 104,
    }


def test_incremental_never_merges_existing_entities(spark):
    from process_alphafold3_outputs_spark.operators.entity import (
        incremental_resolve,
    )

    # "x ab" bridges two existing entities (lev 1 to both) — it must
    # ADOPT the minimum entity, not merge them
    canon = spark.createDataFrame(
        [("x aa", 1), ("x bb", 2)], "name_norm string, entity_id long"
    )
    ship = spark.createDataFrame([(50, "x ab")], "id long, name string")
    labeled, updated = incremental_resolve(
        ship, canon, id_col="id", name_col="name", max_distance=1
    )
    assert [r.entity_id for r in labeled.collect()] == [1]
    up = {r.name_norm: r.entity_id for r in updated.collect()}
    assert up == {"x aa": 1, "x bb": 2, "x ab": 1}


def test_watch_entities_stable_ids_across_epochs(spark, tmp_path):
    from process_alphafold3_outputs_spark.streaming.ingest import (
        read_state,
        watch_entities,
    )

    inbox = str(tmp_path / "inbox")
    out = str(tmp_path / "out")
    canon = str(tmp_path / "canon")
    ckpt = str(tmp_path / "ckpt")

    def drop(rows):
        spark.createDataFrame(rows, "id long, name string").coalesce(
            1
        ).write.mode("append").parquet(inbox)

    drop([(1, "hot rod"), (2, "cold bolt")])
    q = watch_entities(
        spark, inbox, out, canon, ckpt, max_distance=1
    )
    try:
        q.processAllAvailable()
        # epoch 1: exact repeat, fuzzy variant, brand-new name
        drop([(10, "HOT ROD"), (11, "hot rods"), (12, "warm pipe")])
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.id: r.entity_id for r in spark.read.parquet(out).collect()}
    assert got == {1: 1, 2: 2, 10: 1, 11: 1, 12: 12}
    state = {
        r.name_norm: r.entity_id
        for r in read_state(
            spark, canon, "name_norm string, entity_id long"
        ).collect()
    }
    assert state == {
        "hot rod": 1, "cold bolt": 2, "hot rods": 1, "warm pipe": 12,
    }


def test_incremental_canon_row_stable_on_repeat_epochs(spark):
    # ADVICE r6 (high): exact adoptions were unioned back into canon,
    # doubling the (name_norm, entity_id) row count every epoch a name
    # repeats and duplicating labeled output rows through the inner
    # join. Canon must stay ONE row per name; labeled must stay ONE
    # row per input row.
    from process_alphafold3_outputs_spark.operators.entity import (
        incremental_resolve,
    )

    canon = spark.createDataFrame(
        [("hot rod", 3)], "name_norm string, entity_id long"
    )
    for epoch in range(3):
        ship = spark.createDataFrame(
            [(100 + epoch, "hot rod")], "id long, name string"
        )
        labeled, canon = incremental_resolve(
            ship, canon, id_col="id", name_col="name", max_distance=1
        )
        assert labeled.count() == 1, f"epoch {epoch}: duplicated labels"
        assert canon.count() == 1, f"epoch {epoch}: canon rows grew"
        assert canon.collect()[0].entity_id == 3


def test_incremental_labeled_count_matches_input(spark):
    from process_alphafold3_outputs_spark.operators.entity import (
        incremental_resolve,
    )

    canon = spark.createDataFrame(
        [("hot rod", 3), ("cold bolt", 7)], "name_norm string, entity_id long"
    )
    ship = spark.createDataFrame(
        [(1, "hot rod"), (2, "hot rod"), (3, "hot rods"), (4, "qq zz")],
        "id long, name string",
    )
    labeled, updated = incremental_resolve(
        ship, canon, id_col="id", name_col="name", max_distance=1
    )
    assert labeled.count() == 4
    # updated canon: 2 old + 2 genuinely new names, one row each
    assert updated.count() == 4
    assert updated.select("name_norm").distinct().count() == 4


def test_custom_block_col_referencing_name_column(spark):
    # ADVICE r6 (low): a caller-supplied block_col over the name
    # column previously failed analysis (applied after the alias)
    from process_alphafold3_outputs_spark.operators import entity
    from pyspark.sql import functions as F

    names = spark.createDataFrame(
        [("aa x",), ("aa y",), ("ab x",)], "name string"
    )
    # block on the first TWO characters: "aa x"/"aa y" share a block,
    # "ab x" does not
    pairs = entity.name_match_pairs(
        names, "name", max_distance=2,
        block_col=F.substring(F.col("name"), 1, 2),
    )
    assert [(r.name_a, r.name_b) for r in pairs.collect()] == [("aa x", "aa y")]


def test_token_len_blocking_is_lossless_vs_token(spark):
    # the length-band refinement is an EXECUTION change only: pairs
    # must be identical to bare first-token blocking on any input
    from process_alphafold3_outputs_spark.operators import entity

    rows = [
        ("the quick fox",), ("the quick fix",), ("the slow fox",),
        ("the a",), ("the ab",), ("the abcdefghijklmno",),
        ("other name",), ("other namee",),
    ]
    names = spark.createDataFrame(rows, "name string")
    fine = {
        (r.name_a, r.name_b)
        for r in entity.name_match_pairs(
            names, "name", max_distance=2, block_mode="token_len"
        ).collect()
    }
    coarse = {
        (r.name_a, r.name_b)
        for r in entity.name_match_pairs(
            names, "name", max_distance=2, block_mode="token"
        ).collect()
    }
    assert fine == coarse and len(fine) >= 2


def test_hot_block_probe_and_band_fanout_bound(spark):
    # a vocabulary whose every name shares one first token: the probe
    # must flag it, and the (token, length-band) keys must split the
    # single hot block so no bucket holds the whole vocabulary
    from process_alphafold3_outputs_spark.operators import entity
    from pyspark.sql import functions as F

    hot = spark.createDataFrame(
        [("the " + "x" * i,) for i in range(1, 41)], "name string"
    )
    assert entity.has_hot_block(hot, "name", sample_pct=100) is True
    diverse = spark.createDataFrame(
        [(f"tok{i} name",) for i in range(40)], "name string"
    )
    assert entity.has_hot_block(diverse, "name", sample_pct=100) is False

    keyed = hot.select(
        "name",
        F.explode(
            entity._band_keys(F.col("name"), max_distance=1)
        ).alias("_blk"),
    )
    max_bucket = (
        keyed.groupBy("_blk").count().agg(F.max("count")).collect()[0][0]
    )
    # band width 2 + double emission => at most ~4 of the 40 names per
    # bucket (vs 40 in the bare-token block)
    assert max_bucket <= 4


def test_auto_block_mode_routes_and_matches(spark):
    from process_alphafold3_outputs_spark.operators import entity

    names = spark.createDataFrame(
        [("the aaa",), ("the aab",), ("the zzzzzz",)], "name string"
    )
    auto = {
        (r.name_a, r.name_b)
        for r in entity.name_match_pairs(
            names, "name", max_distance=1, block_mode="auto"
        ).collect()
    }
    assert auto == {("the aaa", "the aab")}


def test_pairwise_cluster_eval_hand_computed(spark):
    """pairwise_cluster_eval (r14): textbook 6-item split (tp=2, fp=2,
    fn=2, P=R=F1=0.5, ARI=(2-16/15)/(4-16/15)); identical clusterings
    -> all 1.0; all-singletons -> NULL ratios (no pairs); NULL labels
    excluded; empty input -> zero row."""
    import math

    from process_alphafold3_outputs_spark.operators.entity import (
        pairwise_cluster_eval,
    )

    def run(rows):
        df = spark.createDataFrame(rows, "id long, p string, t string")
        out = pairwise_cluster_eval(df, "p", "t").collect()
        assert len(out) == 1
        return out[0]

    # truth {1,2,3},{4,5},{6}; pred {1,2},{3,4,5},{6}
    rows = [(1, "a", "x"), (2, "a", "x"), (3, "b", "x"),
            (4, "b", "y"), (5, "b", "y"), (6, "c", "z")]
    r = run(rows)
    assert (r.n_items, r.pred_clusters, r.truth_clusters) == (6, 3, 3)
    assert (r.tp, r.fp, r.fn) == (2, 2, 2)
    assert (r.precision, r.recall, r.f1) == (0.5, 0.5, 0.5)
    exp = 4 * 4 / 15
    ari = (2 - exp) / (4 - exp)
    assert r.ari == math.floor(ari * 1e6 + 0.5) / 1e6
    # identical clusterings
    r = run([(i, "g" + str(i % 2), "g" + str(i % 2)) for i in range(6)])
    assert (r.precision, r.recall, r.f1, r.ari) == (1.0, 1.0, 1.0, 1.0)
    # all singletons: no pairs anywhere -> NULL ratios
    r = run([(i, str(i), str(i)) for i in range(4)])
    assert (r.tp, r.precision, r.recall, r.f1, r.ari) == (
        0, None, None, None, None
    )
    # NULL labels excluded
    r = run([(1, "a", "x"), (2, "a", "x"), (3, None, "x"), (4, "a", None)])
    assert r.n_items == 2
    # empty input
    r = run([])
    assert (r.n_items, r.pred_clusters, r.tp, r.ari) == (0, 0, None, None)
