"""Link-graph operators for source-quality weighting: PageRank over a
(src, dst) edge table — the classic authority signal corpus pipelines
use to weight web sources (public technique: Brin & Page 1998; the
CommonCrawl-derived pipelines weight domains by exactly this family).

Scale shape (the whole point): each power-iteration round is ONE
edge-keyed join (ranks onto out-edges) + ONE dst-keyed sum — the same
keyed-shuffle-per-round discipline as ``dedup.connected_components``,
with ``localCheckpoint`` truncating the iterative lineage. Dangling
nodes (no out-links) redistribute their mass uniformly via a one-row
aggregate broadcast, so the total rank stays 1 and the result matches
the textbook definition, not a leaky approximation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _ckpt(df: DataFrame) -> DataFrame:
    """Truncate iterative lineage with a LAZY localCheckpoint.

    ``eager=False`` still cuts the logical plan at call time (the RDD is
    compiled immediately) but defers execution to the first downstream
    action, so a fixed-count iteration loop with NO per-round driver
    decision (pagerank / personalized_pagerank / hits) compiles into one
    chained RDD lineage instead of one blocking Spark job per round —
    the per-round job barrier was pure scheduling overhead (paired A/B
    in OPTIMIZATION_r14.md). Each round's RDD is still persisted on
    first materialization, so nothing is recomputed. A loop with a
    per-round driver action needs no eager form either: the action
    itself materializes the round (see ``dedup.connected_components``,
    whose per-round convergence count does exactly that)."""
    return df.localCheckpoint(eager=False)


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iters: int = 20,
) -> DataFrame:
    """(node, rank) — damped PageRank after ``iters`` power iterations
    (fixed iteration count: rank drift after ~20 rounds is far below
    ranking-decision level, and a fixed count keeps the plan free of
    per-round driver convergence actions).

    Duplicate (src, dst) rows count once (the unweighted link model);
    self-links are dropped. Every node appearing as src OR dst
    participates with initial rank 1/N.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .transform(_ckpt)
    )
    nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
        .transform(_ckpt)
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("outdeg"))
    # out-edges with the share each link carries of its source's rank
    ranks = nodes.withColumn("rank", F.lit(1.0 / n)).transform(_ckpt)
    base = (1.0 - damping) / n
    for _ in range(iters):
        contrib = (
            e.join(ranks.withColumnRenamed("node", "u"), "u")
            .join(deg, "u")
            .select(
                F.col("v").alias("node"),
                (F.col("rank") / F.col("outdeg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        # dangling mass: rank held by nodes with no out-links — a
        # one-row aggregate, broadcast into the update (crossJoin of a
        # single row; never a real cartesian)
        dangling = (
            ranks.join(deg.withColumnRenamed("u", "node"), "node", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("inflow"), F.lit(0.0))
                        + F.col("dm") / F.lit(float(n))
                    )
                ).alias("rank"),
            )
            .transform(_ckpt)
        )
    return ranks


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iters: int = 20,
) -> DataFrame:
    """(node, rank) — PageRank with the teleport restricted to a SEED
    set (personalized PageRank, Haveliwala 2002): every restart — the
    ``1-d`` base mass AND the dangling redistribution — lands on the
    seeds, so rank measures link-proximity to them. Seeding a list of
    TRUSTED domains makes this TrustRank (Gyöngyi et al. 2004), the
    standard source-quality propagation for web-corpus weighting:
    spam farms can inflate raw in-link counts but cannot buy proximity
    to the trusted core.

    ``seeds``: one column of node ids (first column used); seeds
    absent from the graph are ignored. Same per-round shape as
    :func:`pagerank` — one edge-keyed join + one dst-keyed sum, with
    the nodes-sized restart vector joined by node (never broadcast of
    anything corpus-sized) and ``localCheckpoint`` truncating the
    iterative lineage. Total rank stays 1."""
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .transform(_ckpt)
    )
    nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
        .transform(_ckpt)
    )
    seed_nodes = (
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
        .join(nodes, "node", "left_semi")
        .transform(_ckpt)
    )
    ns = seed_nodes.count()
    if ns == 0:
        # no seed touches the graph: nothing to personalize toward
        return nodes.filter(F.lit(False)).withColumn("rank", F.lit(0.0))
    restart = (
        nodes.join(seed_nodes.withColumn("_s", F.lit(1)), "node", "left")
        .select(
            "node",
            F.when(F.col("_s").isNotNull(), F.lit(1.0 / ns))
            .otherwise(F.lit(0.0))
            .alias("s"),
        )
        .transform(_ckpt)
    )
    deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("outdeg"))
    ranks = restart.select("node", F.col("s").alias("rank")).transform(_ckpt)
    for _ in range(iters):
        contrib = (
            e.join(ranks.withColumnRenamed("node", "u"), "u")
            .join(deg, "u")
            .select(
                F.col("v").alias("node"),
                (F.col("rank") / F.col("outdeg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        dangling = (
            ranks.join(deg.withColumnRenamed("u", "node"), "node", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
        )
        ranks = (
            restart.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit(1.0 - damping) * F.col("s")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("inflow"), F.lit(0.0))
                        + F.col("dm") * F.col("s")
                    )
                ).alias("rank"),
            )
            .transform(_ckpt)
        )
    return ranks


def source_authority(
    docs: DataFrame,
    edges: DataFrame,
    source_col: str = "source",
    **pr_kwargs,
) -> DataFrame:
    """Documents annotated with their source's PageRank — the
    source-quality weighting join: rank the (source, source) link graph
    once (a domain-count-sized table), broadcast it onto the corpus.
    Sources absent from the graph get the teleport floor (1-d)/N rather
    than NULL, so downstream weighting never divides by nothing."""
    pr = pagerank(edges, **pr_kwargs)
    n = pr.count()
    damping = pr_kwargs.get("damping", 0.85)
    floor = (1.0 - damping) / n if n else 0.0
    return docs.join(
        F.broadcast(pr.withColumnRenamed("node", source_col)),
        source_col,
        "left",
    ).withColumn(
        "source_rank", F.coalesce(F.col("rank"), F.lit(floor))
    ).drop("rank")


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 4,
) -> DataFrame:
    """(node, hub, authority) — Kleinberg's HITS after ``iters``
    mutual-reinforcement rounds with L1 normalization (authority =
    normalized inflow of hub scores; hub = normalized outflow of
    authority scores). The complement of PageRank for link-quality
    weighting: PageRank scores global endorsement, HITS separates
    "points at good pages" (hub) from "is pointed at by good hubs"
    (authority) — a crawler seed list wants hubs, a source weighting
    wants authorities.

    Same scale discipline as :func:`pagerank`: per round, each
    direction is ONE edge-keyed join + ONE node-keyed sum; the L1
    totals are one-row aggregates broadcast into the update
    (crossJoin of a single row); ``localCheckpoint`` truncates the
    iterative lineage. Duplicate edges count once; self-links drop."""
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .transform(_ckpt)
    )
    nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
        .transform(_ckpt)
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("hub", F.lit(0.0)).withColumn(
            "authority", F.lit(0.0)
        )
    h = nodes.withColumn("h", F.lit(1.0 / n)).transform(_ckpt)
    a = nodes.withColumn("a", F.lit(1.0 / n))
    for _ in range(iters):
        a_raw = (
            e.join(h.withColumnRenamed("node", "u"), "u")
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum("h").alias("ar"))
        )
        a_tot = a_raw.agg(F.coalesce(F.sum("ar"), F.lit(0.0)).alias("at"))
        a = (
            nodes.join(a_raw, "node", "left")
            .crossJoin(F.broadcast(a_tot))
            .select(
                "node",
                F.when(F.col("at") > 0, F.coalesce("ar", F.lit(0.0)) / F.col("at"))
                .otherwise(F.lit(0.0))
                .alias("a"),
            )
            .transform(_ckpt)
        )
        h_raw = (
            e.join(a.withColumnRenamed("node", "v"), "v")
            .groupBy(F.col("u").alias("node"))
            .agg(F.sum("a").alias("hr"))
        )
        h_tot = h_raw.agg(F.coalesce(F.sum("hr"), F.lit(0.0)).alias("ht"))
        h = (
            nodes.join(h_raw, "node", "left")
            .crossJoin(F.broadcast(h_tot))
            .select(
                "node",
                F.when(F.col("ht") > 0, F.coalesce("hr", F.lit(0.0)) / F.col("ht"))
                .otherwise(F.lit(0.0))
                .alias("h"),
            )
            .transform(_ckpt)
        )
    return (
        nodes.join(h, "node")
        .join(a, "node")
        .select("node", F.col("h").alias("hub"), F.col("a").alias("authority"))
    )
