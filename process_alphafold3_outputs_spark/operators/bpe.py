"""Distributed BPE tokenizer training — the "train the tokenizer" step
of an LLM data pipeline, in its Spark-native scale shape.

Classic byte-pair encoding (Sennrich et al. 2016, "Neural Machine
Translation of Rare Words with Subword Units"): start from characters,
repeatedly merge the most frequent adjacent symbol pair. The textbook
implementation is a driver-side dict loop; the distributed shape here
keeps ALL heavy state executor-side:

- **Corpus scans once.** Word counting is the only pass over the raw
  text; every merge iteration runs over the VOCABULARY table
  (distinct word, count, symbol array) — vocabulary-sized, not
  corpus-sized. At 100 TB the corpus is arbitrarily large; the
  vocabulary is tens of millions of rows at worst.
- **Per merge: one map-side-combined aggregation** (adjacent-pair
  counts weighted by word frequency) + one `limit(1)` collect (a
  bounded scalar, same driver contract as the CC fixpoint counts) +
  one narrow array-fold projection applying the merge. No shuffle in
  the apply step.
- **Lineage truncation**: the symbol column grows one `aggregate`
  fold per merge; `localCheckpoint` every ``_CKPT_ROUNDS`` rounds
  keeps the plan flat (same policy as the iterative CC kernels — on
  a real cluster use reliable checkpointing).

Tie-break is deterministic (count DESC, then pair lexicographic), so
re-runs train identical merge tables. Merging is left-to-right
non-overlapping, matching the reference implementation
(differential-pinned in tests/test_bpe.py against a pure-Python
trainer on the same corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import normalized

#: merge-table schema: rank = merge order (0-based), merged = left||right
MERGES_SCHEMA = (
    "rank int, left string, right string, merged string, n_occurrences long"
)


def word_vocab(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(w, n, syms) — distinct-word counts with initial character
    symbol arrays. The ONLY corpus-sized pass of the trainer."""
    words = (
        normalized(docs, text_col)
        .select(F.explode(F.split("_norm", " ")).alias("w"))
        .filter(F.length("w") > 0)
    )
    return (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("syms", F.split("w", ""))
    )


def _apply_merge(syms: F.Column, left: str, right: str) -> F.Column:
    """Left-to-right non-overlapping replacement of adjacent
    (left, right) with their concatenation — an ``aggregate`` fold
    over the symbol array (append, or swap the just-appended ``left``
    for the merged token when ``right`` follows it). Word-local, so
    the apply step is a narrow projection."""
    merged = left + right
    return F.aggregate(
        syms,
        F.expr("cast(array() as array<string>)"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """(l, r, cnt) — adjacent symbol-pair counts weighted by word
    frequency; map-side combined hash aggregation."""
    pairs = vocab.filter(F.size("syms") > 1).select(
        "n",
        F.explode(
            F.expr(
                "transform(slice(syms, 1, size(syms) - 1), "
                "(s, i) -> struct(s AS l, element_at(syms, i + 2) AS r))"
            )
        ).alias("p"),
    )
    return pairs.groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r")).agg(
        F.sum("n").alias("cnt")
    )


def _select_non_interacting(
    candidates, m: int, min_pair_count: int
) -> list[tuple[str, str, int]]:
    """Greedy count-desc selection of up to ``m`` pairwise
    NON-INTERACTING merges: no two selected pairs share a symbol, and
    no selected pair uses another's merged token as a symbol. Under
    that condition each selected pair's occurrence set is untouched by
    applying the others (a merge elsewhere in a word cannot create,
    destroy, or overlap an adjacency of two unrelated symbols), so the
    pre-batch counts — including the recorded n_occurrences — are
    exactly what a sequential trainer would have recomputed for each."""
    chosen: list[tuple[str, str, int]] = []
    used: set[str] = set()
    for r in candidates:
        if len(chosen) >= m:
            break
        if r["cnt"] < min_pair_count:
            break  # candidates arrive count-desc; the rest are smaller
        left, right = r["l"], r["r"]
        if left in used or right in used:
            continue
        chosen.append((left, right, int(r["cnt"])))
        used.update((left, right, left + right))
    return chosen


#: adaptive-batch schedule bounds: start here, double while the
#: candidate stream keeps satisfying whole batches, never exceed the
#: cap. The cap bounds BOTH the per-round collect (4*cap = 512 rows —
#: bounded driver traffic) and the per-round fold-chain depth (each
#: applied merge nests one `aggregate` expression; past a few hundred
#: the expression tree itself becomes the cost)
_ADAPT_START, _ADAPT_CAP = 8, 128

#: lineage truncation cadence: the vocabulary is localCheckpointed after
#: every ``_CKPT_ROUNDS`` rounds' worth of merges (in merges applied,
#: ``_CKPT_ROUNDS * batch``), bounding the fold depth of the plan
_CKPT_ROUNDS = 4


def train_bpe(
    docs: DataFrame,
    n_merges: int = 32,
    text_col: str = "text",
    min_pair_count: int = 2,
    batch_merges: int | str = 1,
) -> DataFrame:
    """Learned merge table (MERGES_SCHEMA), rank-ordered. Stops early
    when the best remaining pair's weighted count drops below
    ``min_pair_count`` (merging hapax pairs memorizes the corpus).

    ``batch_merges`` is the driver-round-trip amortizer: each round
    collects the top ``4*batch_merges`` candidate pairs (one bounded
    collect) and applies up to ``batch_merges`` pairwise
    NON-INTERACTING merges from them (:func:`_select_non_interacting`)
    — a 32 K-merge production vocabulary becomes thousands of rounds
    instead of 32 K sequential jobs. ``batch_merges=1`` IS the
    textbook sequential schedule (bit-identical tables, pinned by the
    pure-Python differential). Batched schedules are exact for every
    merge inside a batch (disjointness keeps each selected pair's
    count at its sequential value) but may ORDER merges differently
    than a strict sequential trainer when a merge's output spawns a
    new pair that outranks the batch's later picks — the standard
    batch-BPE trade-off; the non-interacting fixture pytest pins
    batch == sequential where no such pair exists.

    ``batch_merges="auto"`` (VERDICT r7 item 6) adapts the batch to
    the candidate stream instead of fixing it: the round's candidate
    window starts at ``4 * _ADAPT_START`` and DOUBLES after any round
    whose selection target was fully satisfied (early rounds, where
    the symbol space is wide and interactions sparse, then take
    hundreds of merges per driver round), HALVES after a round where
    conflicts starved the selection below half its target — and within
    a round the selector keeps EVERY non-interacting candidate the
    window yields (each is individually exact by the disjointness
    argument; capping at m wasted the already-collected window).
    Checkpointing switches to merges-applied accounting so a large
    round truncates its fold chain immediately. Deterministic — the
    schedule is a pure function of the (deterministically ordered)
    candidate stream, so re-runs train identical tables."""
    spark = docs.sparkSession
    vocab = word_vocab(docs, text_col).localCheckpoint()
    adaptive = batch_merges == "auto"
    cur = _ADAPT_START if adaptive else max(1, batch_merges)
    # checkpoint cadence in MERGES: reproduces the historical
    # rounds-based placement exactly for integer batches (4 rounds x
    # batch merges) and bounds the adaptive fold depth per checkpoint
    ckpt_merges = _CKPT_ROUNDS * cur
    merges: list[tuple[int, str, str, str, int]] = []
    since_ckpt = 0
    while len(merges) < n_merges:
        m = min(cur, n_merges - len(merges))
        top = (
            _pair_counts(vocab)
            .orderBy(F.desc("cnt"), "l", "r")
            .limit(4 * m)
            .collect()
        )
        # adaptive rounds drain the whole collected window (bounded by
        # the remaining merge budget); fixed batches keep the exact
        # historical m-per-round schedule
        take = min(4 * m, n_merges - len(merges)) if adaptive else m
        chosen = _select_non_interacting(top, take, min_pair_count)
        if not chosen:
            break
        col = F.col("syms")
        for left, right, cnt in chosen:
            merges.append((len(merges), left, right, left + right, cnt))
            col = _apply_merge(col, left, right)
        vocab = vocab.select("w", "n", col.alias("syms"))
        since_ckpt += len(chosen)
        if since_ckpt >= ckpt_merges:
            vocab = vocab.localCheckpoint()
            since_ckpt = 0
        if adaptive:
            if len(chosen) >= m:
                cur = min(cur * 2, _ADAPT_CAP)
            elif len(chosen) < max(1, m // 2):
                cur = max(1, cur // 2)
    return spark.createDataFrame(merges, MERGES_SCHEMA)


def segment_words(
    docs: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """(w, n, pieces) — the corpus vocabulary segmented by a learned
    merge table (the APPLY side of BPE): replay every merge in rank
    order over the character arrays. ``merges`` is collected to the
    driver (bounded: the merge table IS the model, a few thousand rows
    at most) and applied as a chain of narrow folds."""
    rules = [
        (r["left"], r["right"])
        for r in merges.orderBy("rank").collect()
    ]
    vocab = word_vocab(docs, text_col)
    col = F.col("syms")
    for left, right in rules:
        col = _apply_merge(col, left, right)
    return vocab.select("w", "n", col.alias("pieces"))


def tokenize_corpus(
    docs: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_words, n_tokens) — BPE token counts per document:
    the tokenize-the-corpus step a data pipeline runs for budget
    accounting (mixture weights, packing, pricing) after training a
    tokenizer.

    Scale shape: the merge folds replay over the VOCABULARY
    (:func:`segment_words` — distinct words, tens of millions of rows
    at worst), never over the corpus; the corpus-sized side is one
    word explode joined against the broadcast (word → piece count)
    table plus a doc-keyed sum with map-side combine. At 100 TB this
    is the difference between folding every merge over every word
    OCCURRENCE (corpus × merge-table work) and doing it once per
    distinct word."""
    seg = segment_words(docs, merges, text_col).select(
        "w", F.size("pieces").alias("_np")
    )
    words = (
        normalized(docs, text_col)
        .select("doc_id", F.explode(F.split("_norm", " ")).alias("w"))
        .filter(F.length("w") > 0)
    )
    return (
        words.join(F.broadcast(seg), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("_np").alias("n_tokens"),
        )
    )
