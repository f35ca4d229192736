"""Fuzzy entity resolution — blocked pairwise matching over DISTINCT
canonical names, transitive-closure canonicalization, mapped back to
the row level.

An LLM-scale corpus pipeline needs this for source/author/domain
canonicalization (the same name spelled three ways must count as one
entity for mixture budgeting and dedup-by-source). The construction is
the classic three-stage ER pipeline, each stage in its Spark-native
scale shape:

1. **Canonicalize + deduplicate the name space** BEFORE any pairwise
   work: matching runs on ``distinct(normalized_name)``, not on rows.
   At 100 TB the row table is arbitrarily large but the distinct-name
   table is vocabulary-sized — the quadratic stage never sees row
   cardinality.
2. **Blocking**: candidate pairs only within a block (first token of
   the normalized name). The block join is one hash shuffle on the
   block key; per-block work is O(b²) in BLOCK size, never corpus
   size. Against HOT first-token blocks ("the …", "university of …")
   the default execution refines the key with a LOSSLESS length band:
   ``levenshtein(a,b) <= d`` implies ``|len(a)-len(b)| <= d``, so
   emitting each name under (token, len//(d+1)) and (token,
   len//(d+1)+1) guarantees every qualifying pair still shares a key
   while an m-name hot block splits into O(m/width) buckets. The
   match SPEC is unchanged — results are bit-identical to plain
   first-token blocking (the oracle stays on the simple restatement);
   only the join fan-out shrinks. ``block_mode="auto"`` probes for
   hot blocks on a deterministic sample (the Jaccard skew-gate
   pattern, :func:`..operators.dedup.has_hot_shingle`) and takes the
   cheaper single-key join when no block is hot.
3. **Transitive closure**: an edit-distance match is not transitive
   ("aa"~"ab"~"bb" but "aa"!~"bb" at distance 1), so entities are the
   CONNECTED COMPONENTS of the match graph — the same O(log n)
   pointer-doubling kernel the near-dup dedup family uses
   (:func:`..operators.dedup.connected_components`; string node ids
   propagate fine — the label min is lexicographic).

Match predicate: ``levenshtein(a, b) <= max_distance`` — a JVM
built-in on both sides of the blocked self-join, whole-stage codegen,
no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import connected_components


def normalized_name(col: Column) -> Column:
    """Lowercased, whitespace-collapsed name — the canonical form all
    matching compares (same normalization contract as the text-dedup
    family's ``normalized``)."""
    return F.lower(F.regexp_replace(F.trim(col), r"\s+", " "))


def _band_keys(name: Column, max_distance: int) -> Column:
    """The two lossless (first_token, length_band) block keys of a
    name. Band width w = max_distance + 1: matching names differ in
    length by at most max_distance < w, so their band indices differ
    by at most 1 and the {k, k+1} double-emission guarantees a shared
    key for every qualifying pair — zero recall loss vs blocking on
    the first token alone, while a hot token block splits by length."""
    w = max_distance + 1
    tok = F.split(name, " ")[0]
    k = F.floor(F.length(name) / F.lit(w)).cast("long")
    return F.array(
        F.concat_ws("#", tok, k.cast("string")),
        F.concat_ws("#", tok, (k + F.lit(1)).cast("string")),
    )


def has_hot_block(
    names: DataFrame,
    name_col: str = "name",
    sample_pct: int = 25,
    min_count: int = 4,
) -> bool:
    """Deterministic hot-block probe (the Jaccard skew-gate pattern,
    ``dedup.has_hot_shingle``): does any first-token block hold ≥
    max(min_count, 5% of the sampled names)? Sampling is
    md5-hash-deterministic over the name — a block covering a constant
    fraction of the vocabulary appears in any sample of it. The name
    table is already vocabulary-sized, so a generous sample_pct is
    cheap. The verdict is memoized per (plan, input files, params) —
    ``dedup._HOT_PROBE_CACHE``, the established plan-choice
    memoization (a strategy decision, never a query result)."""
    from .dedup import _HOT_PROBE_CACHE, _probe_cache_put, _probe_key

    key = _probe_key(names, "hot_block", name_col, sample_pct, min_count)
    if key is not None and key in _HOT_PROBE_CACHE:
        return _HOT_PROBE_CACHE[key]
    s = (
        names.select(F.col(name_col).alias("_n"))
        .distinct()
        .filter(
            F.conv(F.substring(F.md5("_n"), 1, 4), 16, 10).cast("long")
            % 100 < sample_pct
        )
    )
    counts = (
        s.groupBy(F.split("_n", " ")[0].alias("_blk"))
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max("c").alias("mx"), F.sum("c").alias("tot"))
        .collect()[0]
    )
    if counts.tot is None or counts.tot == 0:
        return _probe_cache_put(key, False)
    return _probe_cache_put(
        key, bool(counts.mx >= max(min_count, 0.05 * counts.tot))
    )


def name_match_pairs(
    names: DataFrame,
    name_col: str = "name",
    max_distance: int = 2,
    block_col: Column | None = None,
    block_mode: str = "token_len",
) -> DataFrame:
    """(name_a, name_b) — unordered (a < b) pairs of DISTINCT names
    with ``levenshtein <= max_distance`` inside the same first-token
    block.

    ``block_col``: caller-supplied blocking key expression over the
    name column (single key; blocking is then part of the match SPEC —
    pairs straddling blocks are non-matches by definition).

    ``block_mode`` (default blocking only): ``"token_len"`` (default)
    joins on the lossless (token, length-band) double keys — the
    always-insured corpus-scale form, fully lazy; ``"token"`` joins on
    the bare first token (one key, no pair-dedup — cheapest when no
    block is hot); ``"auto"`` probes (:func:`has_hot_block`, fires a
    Spark job at plan-build time) and picks. All three produce
    IDENTICAL pairs — the length band cannot drop a qualifying pair."""
    b = names.select(F.col(name_col).alias("_n")).distinct()
    if block_col is not None:
        # apply the caller's expression over the ORIGINAL column name,
        # in the same select that aliases it (the post-alias form made
        # any block_col referencing name_col fail analysis)
        keyed = names.select(
            F.col(name_col).alias("_n"), block_col.alias("_blk")
        ).distinct()
    else:
        if block_mode == "auto":
            block_mode = (
                "token_len" if has_hot_block(b, "_n") else "token"
            )
        if block_mode == "token":
            keyed = b.withColumn("_blk", F.split("_n", " ")[0])
        elif block_mode == "token_len":
            keyed = b.select(
                "_n",
                F.explode(_band_keys(F.col("_n"), max_distance)).alias("_blk"),
            )
        else:
            raise ValueError(
                f"block_mode must be token|token_len|auto, got {block_mode!r}"
            )
    left = keyed.select(F.col("_n").alias("name_a"), "_blk")
    right = keyed.select(F.col("_n").alias("name_b"), "_blk")
    pairs = (
        left.join(right, "_blk")
        .filter(
            (F.col("name_a") < F.col("name_b"))
            & (F.levenshtein("name_a", "name_b") <= max_distance)
        )
        .select("name_a", "name_b")
    )
    # double-key emission can match one pair under both keys
    if block_col is None and block_mode == "token_len":
        pairs = pairs.distinct()
    return pairs


def resolve_entities(
    df: DataFrame,
    id_col: str,
    name_col: str,
    max_distance: int = 2,
) -> DataFrame:
    """(``id_col``, name_norm, entity_id) — every input row labeled
    with its entity: ``entity_id`` is the MIN ``id_col`` across all
    rows whose normalized names fall in the same connected component
    of the match graph. Unmatched names form singleton entities.

    Note: the component fixpoint is EAGER at plan-build time
    (inherent to connected components — same contract as
    ``clean_corpus(near_dedup="clusters")``)."""
    rows = df.select(
        F.col(id_col), normalized_name(F.col(name_col)).alias("name_norm")
    )
    names = rows.select(F.col("name_norm").alias("_n")).distinct()
    pairs = name_match_pairs(names, "_n", max_distance=max_distance)
    comp = connected_components(pairs, src="name_a", dst="name_b")
    labeled = (
        rows.join(
            comp.select(
                F.col("doc_id").alias("name_norm"),
                F.col("cluster_id").alias("_canon"),
            ),
            "name_norm",
            "left",
        )
        .withColumn("_canon", F.coalesce("_canon", "name_norm"))
    )
    # entity id = min row id per canonical name-cluster; the canon
    # table is vocabulary-sized -> broadcast back onto the rows
    ents = labeled.groupBy("_canon").agg(F.min(id_col).alias("entity_id"))
    return labeled.join(F.broadcast(ents), "_canon").select(
        id_col, "name_norm", "entity_id"
    )


def incremental_resolve(
    new_rows: DataFrame,
    canon: DataFrame,
    id_col: str,
    name_col: str,
    max_distance: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """(labeled_rows, updated_canon) — a NEW shipment resolved against
    the accumulated entity CANON table (name_norm, entity_id) without
    reprocessing history: the incremental sibling of
    :func:`resolve_entities`, same contract as the incremental dedup
    family (history participates only as its vocabulary-sized canon
    table; historical rows are never rescanned).

    Assignment, in deterministic precedence order:

    1. **exact adoption** — a normalized name already in canon keeps
       that entity_id;
    2. **fuzzy adoption** — an unseen name within ``max_distance`` of
       ≥1 canon names (same blocking as the batch path) adopts the
       MINIMUM matching entity_id. Existing entities are never merged
       by a bridging shipment name (the standard incremental
       compromise — batch re-resolution is the offline rebuild that
       would merge them);
    3. **new entities** — leftover names cluster among THEMSELVES
       (connected components over the shipment-local match graph);
       each cluster becomes a new entity whose id is the minimum
       ``id_col`` across its rows.

    ``updated_canon`` = canon ∪ the shipment's new (name_norm,
    entity_id) mappings — idempotent under replay."""
    rows = new_rows.select(
        F.col(id_col), normalized_name(F.col(name_col)).alias("name_norm")
    )
    names = rows.select(F.col("name_norm").alias("_n")).distinct()
    cn = canon.select(
        F.col("name_norm").alias("_cn"), F.col("entity_id").alias("_ceid")
    )
    exact = names.join(
        cn.withColumnRenamed("_cn", "_n"), "_n"
    ).select("_n", F.col("_ceid").alias("entity_id"))
    unseen = names.join(exact.select("_n"), "_n", "left_anti")
    # fuzzy adoption: blocked lev join against canon names — the same
    # lossless (token, length-band) keys as the batch path (the groupBy
    # also collapses the double-key duplicate matches)
    u_blk = unseen.select(
        "_n", F.explode(_band_keys(F.col("_n"), max_distance)).alias("_blk")
    )
    c_blk = cn.select(
        "_cn", "_ceid",
        F.explode(_band_keys(F.col("_cn"), max_distance)).alias("_blk"),
    )
    fuzzy = (
        u_blk.join(c_blk, "_blk")
        .filter(F.levenshtein("_n", "_cn") <= max_distance)
        .groupBy("_n")
        .agg(F.min("_ceid").alias("entity_id"))
    )
    leftover = unseen.join(fuzzy.select("_n"), "_n", "left_anti")
    pairs = name_match_pairs(
        leftover.withColumnRenamed("_n", "name"), "name",
        max_distance=max_distance,
    )
    comp = connected_components(pairs, src="name_a", dst="name_b")
    lcanon = (
        leftover.join(
            comp.select(
                F.col("doc_id").alias("_n"), F.col("cluster_id").alias("_c")
            ),
            "_n",
            "left",
        )
        .withColumn("_c", F.coalesce("_c", "_n"))
    )
    # new entity id = min row id across the cluster's rows
    new_ids = (
        lcanon.join(rows.withColumnRenamed("name_norm", "_n"), "_n")
        .groupBy("_c")
        .agg(F.min(id_col).alias("entity_id"))
    )
    fresh = lcanon.join(F.broadcast(new_ids), "_c").select("_n", "entity_id")
    mapping = exact.unionByName(fuzzy).unionByName(fresh)
    labeled = rows.join(
        mapping.withColumnRenamed("_n", "name_norm"), "name_norm"
    ).select(id_col, "name_norm", "entity_id")
    # canon grows by the GENUINELY NEW names only (fuzzy + fresh are
    # subsets of `unseen`, disjoint from canon by the left_anti).
    # Unioning `exact` back in would re-insert rows canon already
    # holds — one duplicate per repeat epoch, doubling through the
    # next epoch's inner join and breaking the idempotence contract.
    updated = canon.select("name_norm", "entity_id").unionByName(
        fuzzy.unionByName(fresh).select(
            F.col("_n").alias("name_norm"), "entity_id"
        )
    )
    return labeled, updated


def pairwise_cluster_eval(
    df: DataFrame,
    pred_col: str,
    truth_col: str,
) -> DataFrame:
    """One row (n_items, pred_clusters, truth_clusters, tp, fp, fn,
    precision, recall, f1, ari) — PAIRWISE evaluation of a predicted
    clustering against a reference clustering: the standard grade for
    entity resolution / near-dup grouping ("of all item pairs my
    clusters put together, how many belong together?"). A pair of
    items counts as tp when both clusterings co-cluster it, fp when
    only the prediction does, fn when only the truth does; ``ari`` is
    the adjusted Rand index (chance-corrected, 1.0 = identical
    clusterings, ~0 = random, NULL when both sides are all-singletons
    or one cluster — no information). Rows with a NULL in either label
    are excluded (an unlabeled item has no pairs to grade).

    The combinatorial identity does ALL the pair counting on group
    SIZES — tp = Σ_{p,t} C(m_pt, 2), pred pairs = Σ_p C(m_p, 2),
    truth pairs = Σ_t C(m_t, 2) — so no item-pair is ever
    materialized: a 10M-item cluster contributes one row with
    m = 10M, not 5·10¹³ join rows.

    Exactness: every C(m, 2) = m·(m−1) div 2 is exact int64
    (≤ C(3e9, 2) ≈ 4.5e18 at the int64 edge — the sum bound is
    C(n, 2) by disjointness, same edge); ARI's cross product
    pred_pairs·truth_pairs is taken in DECIMAL (n⁴-scale); precision/
    recall/f1/ari are fixed-order double divisions + the 6-dp floor
    round, restated by the SQL oracle bit-for-bit.

    Scale shape: ONE groupBy(pred, truth) collapses the corpus; both
    margins and every statistic aggregate that cluster-pair-sized
    table, which is materialized once (``localCheckpoint`` — EAGER at
    call time, the README localCheckpoint contract) so the input is
    scanned once, not three times."""
    p = F.col(pred_col).cast("string")
    t = F.col(truth_col).cast("string")
    joint = (
        df.filter(p.isNotNull() & t.isNotNull())
        .groupBy(p.alias("_p"), t.alias("_t"))
        .agg(F.count(F.lit(1)).alias("_m"))
    )
    joint = joint.localCheckpoint()

    def c2(col: Column) -> Column:
        # m(m−1) is even, so >> 1 IS the exact integer half (a double
        # `/ 2` would silently round past 2^53)
        return F.shiftright((col * (col - 1)).cast("long"), 1)

    tp_tot = joint.agg(
        F.sum("_m").alias("_n"),
        F.sum(c2(F.col("_m"))).alias("_tp"),
    )
    pred_m = joint.groupBy("_p").agg(F.sum("_m").alias("_mp")).agg(
        F.count(F.lit(1)).alias("_npred"),
        F.sum(c2(F.col("_mp"))).alias("_pp"),
    )
    truth_m = joint.groupBy("_t").agg(F.sum("_m").alias("_mt")).agg(
        F.count(F.lit(1)).alias("_ntruth"),
        F.sum(c2(F.col("_mt"))).alias("_pt"),
    )
    r6 = lambda c: (  # noqa: E731 — the cross-engine-exact floor round
        F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)
    )
    tp = F.col("_tp")
    pp, pt = F.col("_pp"), F.col("_pt")
    fp, fn = pp - tp, pt - tp
    prec = tp.cast("double") / pp.cast("double")
    rec = tp.cast("double") / pt.cast("double")
    f1 = (
        F.lit(2.0) * (prec * rec) / (prec + rec)
    )
    npairs = c2(F.col("_n"))
    # ARI on the unrounded terms: (tp − exp) / (max − exp) with
    # exp = pp·pt / C(n,2) (DECIMAL product), max = (pp + pt)/2
    exp_ = (
        (pp.cast("decimal(38,0)") * pt).cast("double")
        / npairs.cast("double")
    )
    max_ = (pp + pt).cast("double") / F.lit(2.0)
    ari = (tp.cast("double") - exp_) / (max_ - exp_)
    live = F.col("_n") > 0
    return (
        tp_tot.crossJoin(pred_m)
        .crossJoin(truth_m)
        .select(
            F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias(
                "n_items"
            ),
            F.coalesce(F.col("_npred"), F.lit(0)).cast("long").alias(
                "pred_clusters"
            ),
            F.coalesce(F.col("_ntruth"), F.lit(0)).cast("long").alias(
                "truth_clusters"
            ),
            F.when(live, tp).cast("long").alias("tp"),
            F.when(live, fp).cast("long").alias("fp"),
            F.when(live, fn).cast("long").alias("fn"),
            F.when(live & (pp > 0), r6(prec)).alias("precision"),
            F.when(live & (pt > 0), r6(rec)).alias("recall"),
            F.when(
                live & (pp > 0) & (pt > 0) & ((prec + rec) > 0),
                r6(f1),
            ).alias("f1"),
            F.when(
                live & (npairs > 0) & (max_ != exp_), r6(ari)
            ).alias("ari"),
        )
    )
