"""Text-analysis operators over ``documents`` — language ID, quality
scoring, token counting, fingerprinting. All pure built-in expressions
(replace/regexp/length arithmetic) so they run JVM-side and have exact
ANSI-SQL oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import normalized
from .util import spread

#: distinctive stopwords per language for the n-gram/stopword-hit
#: heuristic (deliberately small + deterministic; ties break
#: alphabetically by language code)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "und", "die", "nicht", "ist"),
    "en": ("the", "and", "of", "is", "to"),
    "es": ("el", "la", "de", "que", "es"),
    "fr": ("le", "et", "les", "des", "est"),
}

EN_STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "is", "in", "that")


def _count_tokens_in(tokens: Column, words: tuple[str, ...]) -> Column:
    """Number of entries of a token ARRAY that belong to ``words`` — one
    ``filter`` over the array (a single compact codegen expression; the
    earlier per-word replace-length arithmetic expanded to ~10 string
    traversals per word, blew whole-stage codegen past the JVM's 64 KB
    method limit in wide projections, and undercounted *immediately
    adjacent* repeated markers). Counts multiplicity; identical
    `list_filter` restatement exists in ANSI SQL/DuckDB. Callers split
    the text ONCE and pass the array — re-splitting per language costs
    a full text traversal each."""
    wlist = list(words)
    return F.size(F.filter(tokens, lambda x: x.isin(wlist))).cast("long")


def _count_words_in(norm: Column, words: tuple[str, ...]) -> Column:
    """Convenience form over space-normalized TEXT (splits internally —
    prefer :func:`_count_tokens_in` inside multi-language projections)."""
    return _count_tokens_in(F.split(norm, " "), words)


def language_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, score_<lang>...) marker-hit counts per language."""
    d = normalized(docs, text_col).withColumn("_toks", F.split("_norm", " "))
    for lang, words in sorted(LANG_MARKERS.items()):
        d = d.withColumn(
            f"score_{lang}", _count_tokens_in(F.col("_toks"), words)
        )
    return d.select("doc_id", *[f"score_{lang}" for lang in sorted(LANG_MARKERS)])


def language_id_col(norm: Column) -> Column:
    """``pred_lang`` as a pure Column over space-normalized text —
    composable into wider projections without a per-stage join
    (argmax of marker scores, 'und' when all zero; ties break
    alphabetically, deterministic). The text is split ONCE; every score
    filters the same token array."""
    langs = sorted(LANG_MARKERS)
    toks = F.split(norm, " ")
    scores = {
        lang: _count_tokens_in(toks, LANG_MARKERS[lang]) for lang in langs
    }
    best = F.greatest(*[scores[lang] for lang in langs])
    pred = F.lit("und")
    # reverse order so earlier languages win ties
    for lang in reversed(langs):
        pred = F.when((best > 0) & (scores[lang] == best), F.lit(lang)).otherwise(
            pred
        )
    return pred


def language_id(
    docs: DataFrame, text_col: str = "text", spread_input: bool = True
) -> DataFrame:
    """(doc_id, pred_lang) — see :func:`language_id_col`. ``spread``
    first (local-mode only): the marker-scan over every token is CPU-
    bound and a single-row-group parquet scan would run it on one
    core. ``spread_input=False`` skips that repartition — pass it from
    compositions that re-exchange the output anyway (ccnet's doc-keyed
    join), where the extra full-text exchange is a measured loss."""
    d = normalized(spread(docs, "doc_id") if spread_input else docs, text_col)
    return d.select("doc_id", language_id_col(F.col("_norm")).alias("pred_lang"))


def quality_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_chars, n_words, avg_word_len, punct_ratio,
    stopword_ratio) — the standard cheap quality screens for a training
    corpus; thresholds are the caller's query."""
    d = normalized(docs, text_col)
    n_words = F.size(F.split("_norm", " "))
    # NULL text ≡ empty for the raw-text signals (normalized() contract)
    raw = F.coalesce(F.col(text_col), F.lit(""))
    n_chars = F.length(raw)
    n_punct = F.length(raw) - F.length(F.regexp_replace(raw, r"[.,!?;:]", ""))
    sw = _count_words_in(F.col("_norm"), EN_STOPWORDS)
    return d.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_words.cast("long").alias("n_words"),
        F.round(
            (F.length("_norm") - n_words + 1) / n_words, 4
        ).alias("avg_word_len"),
        F.round(n_punct / F.greatest(n_chars, F.lit(1)), 4).alias("punct_ratio"),
        F.round(sw / n_words, 4).alias("stopword_ratio"),
    )


#: the "required words" of the published Gopher document-quality rules
#: (Rae et al. 2021, table A1 — public heuristic): a document must
#: contain at least 2 of these to pass the stopword rule.
GOPHER_REQUIRED_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(
    docs: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_required_hits: int = 2,
) -> DataFrame:
    """Per-document signals + pass/fail for the published Gopher quality
    rules (Rae et al. 2021; the standard pre-training heuristic filter):
    word-count bounds, mean-word-length bounds, symbol-to-word ratio
    (``#`` and ellipsis), bullet-start / ellipsis-end line fractions,
    fraction of words containing an alphabetic character, and a
    required-stopword floor. Returns every signal (so thresholds can be
    re-tuned by query) plus the composite ``keep`` flag (0/1 INT for
    engine-stable hashing).

    Scale shape: one narrow projection over a split-once token array and
    a split-once line array — no shuffle, no UDF, embarrassingly
    parallel; the filter itself is a downstream WHERE on ``keep``.
    Deliberately NOT ``spread`` (plan-contract-pinned shuffle-free): the
    rule bundle is cheap enough per row that a local-mode repartition
    costs more than the single-task scan it would fix (quiet A/B: 0.47 s
    anchor vs 0.42 s spread — noise-level), and the no-Exchange shape is
    the 100 TB contract worth keeping."""
    d = normalized(docs, text_col).withColumn(
        "_toks", F.split("_norm", " ")
    )
    toks = F.col("_toks")
    n_words = F.size(toks).cast("long")
    mean_wl = (F.length("_norm") - n_words + 1) / n_words
    # NULL text ≡ empty (the normalized() contract) for the raw-text
    # signals too — otherwise every ratio on a NULL row would be NULL
    raw = F.coalesce(F.col(text_col), F.lit(""))
    n_hash = F.length(raw) - F.length(F.replace(raw, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(raw) - F.length(F.replace(raw, F.lit("..."), F.lit("")))
    ) / 3 + (F.length(raw) - F.length(F.replace(raw, F.lit("…"), F.lit(""))))
    symbol_ratio = (n_hash + n_ellipsis) / n_words
    lines = F.split(raw, "\n")
    n_lines = F.size(lines)
    bullet_frac = (
        F.size(
            F.filter(
                lines,
                lambda ln: F.trim(ln).rlike(r"^[-*•]"),
            )
        )
        / n_lines
    )
    ellipsis_frac = (
        F.size(
            F.filter(
                lines,
                lambda ln: F.trim(ln).rlike(r"(\.\.\.|…)$"),
            )
        )
        / n_lines
    )
    alpha_frac = F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))) / n_words
    req = list(GOPHER_REQUIRED_WORDS)
    required_hits = F.size(F.filter(toks, lambda t: t.isin(req))).cast("long")
    keep = (
        n_words.between(min_words, max_words)
        & mean_wl.between(min_mean_word_len, max_mean_word_len)
        & (symbol_ratio <= max_symbol_ratio)
        & (bullet_frac <= max_bullet_frac)
        & (ellipsis_frac <= max_ellipsis_frac)
        & (alpha_frac >= min_alpha_frac)
        & (required_hits >= min_required_hits)
    )
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(mean_wl, 4).alias("mean_word_len"),
        F.round(symbol_ratio, 4).alias("symbol_ratio"),
        F.round(bullet_frac, 4).alias("bullet_line_frac"),
        F.round(ellipsis_frac, 4).alias("ellipsis_line_frac"),
        F.round(alpha_frac, 4).alias("alpha_word_frac"),
        required_hits.alias("n_required_hits"),
        keep.cast("int").alias("keep"),
    )


def repetition_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_grams_2, n_dup_2, dup_frac_2, n_grams_3, n_dup_3,
    dup_frac_3) — duplicate word n-gram fractions, the standard
    repetition screens a training corpus runs to drop boilerplate /
    looping generations (Gopher-style "rep" signals; public heuristic).

    Scale shape: a pure NARROW projection — the gram lists are built
    with transform/slice over the split-once token array and the dup
    count is ``size − size(array_distinct)``, all JVM-side; no explode,
    no shuffle, embarrassingly parallel at any corpus size. Documents
    shorter than k words count as one gram (their full text), mirroring
    the :func:`~..operators.dedup.word_shingles` convention. ``spread``
    first (local-mode only): the per-window gram arrays are CPU-heavy
    and must not inherit a one-task parquet scan."""
    d = normalized(spread(docs, "doc_id"), text_col).withColumn(
        "_w", F.split("_norm", " ")
    )
    sel: list[Column] = [F.col("doc_id")]

    # NB: closure via factory, NOT a default arg — PySpark reads a
    # two-parameter lambda as an (element, index) higher-order function,
    # silently binding the "constant" to the element index.
    def gram(kk: int):
        return lambda i: F.concat_ws(" ", F.slice("_w", i + 1, kk))

    for k in (2, 3):
        grams = F.when(F.size("_w") < k, F.array(F.col("_norm"))).otherwise(
            F.transform(F.sequence(F.lit(0), F.size("_w") - k), gram(k))
        )
        d = d.withColumn(f"_g{k}", grams)
        n = F.size(f"_g{k}").cast("long")
        ndup = (F.size(f"_g{k}") - F.size(F.array_distinct(f"_g{k}"))).cast(
            "long"
        )
        sel += [
            n.alias(f"n_grams_{k}"),
            ndup.alias(f"n_dup_{k}"),
            F.round(ndup / n, 4).alias(f"dup_frac_{k}"),
        ]
    return d.select(*sel)


def tfidf_top_terms(
    docs: DataFrame, k: int = 3, text_col: str = "text"
) -> DataFrame:
    """(doc_id, term, tf, df, tfidf, rk) — the ``k`` highest-tf-idf
    terms per document (the classic keyword/topic signal a curation
    pipeline uses for domain tagging and near-topic sampling).
    ``tfidf = tf · ln((N+1)/(df+1))`` (smoothed idf, always ≥ 0); ties
    break alphabetically by term so ranks are deterministic.

    Scale shape: one explode of the split-once token array; term counts
    aggregate doc-keyed (map-side combine), document frequencies
    aggregate term-keyed; the idf table is vocabulary-sized —
    broadcast-joined back (a vocabulary is ≪ corpus even at 100 TB:
    Heaps' law). The final top-k is a per-doc window over ≤ |doc| rows.
    N (corpus size) rides a scalar subquery-like broadcast via
    cross-join of a 1-row count — not a driver collect. ``spread``
    first (local-mode only): the token explode + term aggregation must
    not inherit a one-task parquet scan."""
    d = normalized(spread(docs, "doc_id"), text_col).withColumn(
        "_toks", F.split("_norm", " ")
    )
    terms = d.select("doc_id", F.explode("_toks").alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dfreq = (
        terms.distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("_n"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log((F.col("_n") + 1) / (F.col("df") + 1)),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("doc_id", "term", "tf", "df", "tfidf", "rk")
    )


def _doc_bigrams(
    docs: DataFrame, text_col: str = "text", spread_input: bool = True
) -> DataFrame:
    """(doc_id, i, w1, w2) — positional bigram occurrences of the
    normalized text (docs with < 2 tokens contribute no rows).
    ``spread_input=False`` skips the local-mode repartition for
    compositions whose downstream re-exchanges anyway."""
    d = normalized(
        spread(docs, "doc_id") if spread_input else docs, text_col
    ).withColumn(
        "_toks", F.split("_norm", " ")
    )
    n = F.size("_toks")
    return (
        d.filter(n >= 2)
        .select(
            "doc_id",
            F.posexplode(
                F.zip_with(
                    F.slice("_toks", 1, n - 1),
                    F.slice("_toks", 2, n - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("i", "_p"),
        )
        .select("doc_id", "i", "_p.w1", "_p.w2")
    )


def bigram_lm_model(
    docs: DataFrame, text_col: str = "text", spread_input: bool = True
) -> DataFrame:
    """(w1, w2, n12, n1, vv) — the trained bigram model: bigram counts,
    context counts (DERIVED from the bigram counts — model-sized input,
    never a second corpus pass) and the continuation-vocabulary size on
    every row. Vocabulary-sized by Heaps' law; persist it as a parquet
    table and score later shipments/streams against it
    (:func:`score_with_bigram_model`, `streaming.watch_documents_scored`).
    At 100 TB prune to top-M bigrams with a backoff floor so it
    broadcasts."""
    bg = _doc_bigrams(docs, text_col, spread_input=spread_input)
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n12"))
    c1 = c2.groupBy("w1").agg(F.sum("n12").alias("n1"))
    # vocabulary size DERIVED from the model table, not the corpus:
    # the distinct w2 set of bg equals the w2 set of c2 (c2 is exactly
    # bg's distinct pairs), so counting it on the vocabulary-sized c2
    # removes a second full corpus explode + distinct shuffle
    vocab = c2.select("w2").distinct().agg(F.count(F.lit(1)).alias("vv"))
    return c2.join(c1, "w1").crossJoin(F.broadcast(vocab)).select(
        "w1", "w2", "n12", "n1", "vv"
    )


def score_with_bigram_model(
    docs: DataFrame,
    model: DataFrame,
    alpha: float = 0.5,
    text_col: str = "text",
    spread_input: bool = True,
) -> DataFrame:
    """(doc_id, n_bigrams, avg_nll, ppl) — score documents against a
    (possibly previously-trained) bigram model.
    ``p(w2|w1) = (c(w1,w2)+α) / (c(w1)+α·V)`` — true add-α smoothing:
    an unseen continuation of a KNOWN context scores
    ``α/(c(w1)+α·V)`` (the context count joins separately on w1 from
    the broadcast model-sized context table, so ``p(·|w1)`` stays
    normalized), and only a fully-unknown context falls to the
    ``1/V`` floor. Both joins are no-ops when the model was trained on
    these very docs. The corpus-sized join keys on (w1, w2) — far
    better distributed than w1 alone (hot contexts spread across their
    continuations); the w1 context join is broadcast, never a shuffle.
    The per-doc mean folds in position order
    (sort_array(struct(pos, nll))) so the DuckDB oracle
    (``sum(nll ORDER BY i)``) reproduces every double bit-for-bit.
    Documents with < 2 tokens carry n_bigrams = 0 and NULL scores."""
    bg = _doc_bigrams(docs, text_col, spread_input=spread_input)
    vocab = model.agg(F.max("vv").alias("_v"))
    # context counts: one row per distinct w1 — model-sized (≤ V rows),
    # broadcastable by construction
    ctx = model.select("w1", F.col("n1").alias("_n1")).distinct()
    scored = (
        bg.join(model.select("w1", "w2", "n12"), ["w1", "w2"], "left")
        .join(F.broadcast(ctx), "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "nll",
            -F.log(
                (F.coalesce("n12", F.lit(0).cast("long")) + F.lit(alpha))
                / (
                    F.coalesce("_n1", F.lit(0).cast("long"))
                    + F.lit(alpha) * F.col("_v")
                )
            ),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "nll"))),
                lambda s: s["nll"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("_sum"),
    )
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0).cast("long")).alias("n_bigrams"),
            F.round(F.col("_sum") / F.col("n_bigrams"), 6).alias("avg_nll"),
            F.round(F.exp(F.col("_sum") / F.col("n_bigrams")), 4).alias("ppl"),
        )
    )


def bigram_lm_scores(
    docs: DataFrame,
    alpha: float = 0.5,
    text_col: str = "text",
    spread_input: bool = True,
) -> DataFrame:
    """(doc_id, n_bigrams, avg_nll, ppl) — per-document average
    negative log-likelihood (natural log) and perplexity under an
    add-alpha-smoothed bigram model trained on the corpus ITSELF — the
    KenLM-style fluency signal curation pipelines use to rank
    documents (high perplexity ⇒ ungrammatical / boilerplate /
    wrong-language text). Composition of :func:`bigram_lm_model` and
    :func:`score_with_bigram_model` on the same corpus: ONE
    corpus-sized explode feeds both the vocabulary-sized model tables
    and the scoring join."""
    return score_with_bigram_model(
        docs,
        bigram_lm_model(docs, text_col, spread_input=spread_input),
        alpha,
        text_col,
        spread_input=spread_input,
    )


def corpus_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(source, n_docs, total_tokens, mean_tokens, median_tokens,
    p90_tokens, n_langs) — the per-source corpus profile a curation
    run reports before/after each filter stage (mixture weights, token
    budgets, length drift). One source-keyed aggregation; count/sum/avg
    combine map-side. The percentiles are EXACT (``F.percentile`` —
    linear interpolation, which DuckDB's ``quantile_cont`` reproduces
    bit-for-bit); at 100 TB swap in ``approx_percentile`` with a pinned
    accuracy — exact percentile buffers each group's values, the only
    non-streaming aggregate here (the source-level group count is tiny,
    so the buffers, not the groups, are the scale concern)."""
    d = normalized(docs, text_col).withColumn(
        "_nw", F.size(F.split("_norm", " ")).cast("long")
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_nw").alias("total_tokens"),
        F.round(F.avg("_nw"), 4).alias("mean_tokens"),
        F.round(F.percentile("_nw", F.lit(0.5)), 4).alias("median_tokens"),
        F.round(F.percentile("_nw", F.lit(0.9)), 4).alias("p90_tokens"),
        F.count_distinct("lang").alias("n_langs"),
    )


def sample_exact_k(
    docs: DataFrame,
    k: int,
    domain_col: str = "source",
    seed: str = "sample-v1",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exactly ``min(k, |domain|)`` rows per domain — the budgeted
    counterpart of rate-based :func:`sample_by_domain` ("give me 10 000
    docs per source"), selected by ranking each domain on the SAME
    deterministic md5 hash the rate gate uses (never rand(): retry- and
    partitioning-stable, oracle-restatable; ties broken by id). The
    hash rank makes the choice a uniform random sample in expectation
    while every re-run picks the identical rows.

    Scale shape: one domain-keyed window. Domains are the partition
    key, so per-domain data must fit a task's spill budget — for a
    corpus whose largest domain outgrows that, pre-filter with the rate
    gate to ~k·10 candidates (cheap, shuffle-free) and rank only the
    survivors."""
    h = F.md5(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string")))
    w = Window.partitionBy(domain_col).orderBy(h, F.col(id_col))
    return (
        docs.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def mix_by_budget(
    docs: DataFrame,
    budgets: dict[str, int],
    domain_col: str = "source",
    seed: str = "mix-v1",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Data-mixture sampling: draw documents per domain until each
    domain's TOKEN budget is filled — the "mix 30% web, 20% code, ..."
    step that turns per-source weights into an actual training corpus.
    Documents are taken in deterministic md5-hash order (a uniform
    random draw in expectation, identical on every re-run/retry —
    never rand()) and the kept set is the PREFIX of that order whose
    cumulative token count fits the budget (no partial documents; the
    cut is monotone, so a re-run with a bigger budget is a strict
    superset). Domains absent from ``budgets`` are dropped.

    Output: (id, domain, n_tokens, cum_tokens) for the selected docs.

    Scale shape: one domain-keyed window (hash order + prefix sum),
    same contract as :func:`sample_exact_k` — a domain must fit a
    task's spill budget; pre-thin giant domains with the rate gate
    first. Whitespace token counts, matching :func:`token_counts`.
    """
    if not budgets:
        raise ValueError("budgets must be non-empty")
    d = normalized(docs, text_col).withColumn(
        "n_tokens", F.size(F.split("_norm", " ")).cast("long")
    )
    budget = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in budgets.items() for x in (kv[0], int(kv[1]))]
        ),
        F.col(domain_col),
    )
    h = F.md5(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string")))
    w = (
        Window.partitionBy(domain_col)
        .orderBy(h, F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.filter(F.col(domain_col).isin(list(budgets)))
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= budget)
        .select(id_col, domain_col, "n_tokens", "cum_tokens")
    )


def keep_top_fraction(
    scored: DataFrame,
    frac: float,
    score_col: str = "clf_score",
) -> DataFrame:
    """Keep the rows whose ``score_col`` is at or above the corpus's
    (1−frac) interpolating percentile — the "keep the best 20% by
    classifier score" gate, where the threshold is a PROPERTY OF THE
    SHIPMENT rather than a magic constant (a fixed cut drifts as the
    corpus mix changes; a percentile cut self-calibrates).

    Scale shape: ONE exact interpolating-percentile aggregation (a
    single-row result regardless of corpus size) broadcast back onto
    the corpus as a filter — the corpus is scanned twice (once to rank,
    once to cut) but never shuffled by row. Exact ``percentile`` keeps
    the DuckDB oracle bit-reproducible (quantile_cont semantics, the
    same pairing corpus_stats pins); swap in ``percentile_approx`` at
    scales where the exact sort-based percentile's per-group memory
    matters.
    """
    if not (0.0 < frac <= 1.0):
        raise ValueError(f"frac must be in (0, 1], got {frac}")
    cut = scored.agg(
        F.expr(f"percentile({score_col}, {1.0 - frac})").alias("_cut")
    )
    return (
        scored.join(F.broadcast(cut))
        .filter(F.col(score_col) >= F.col("_cut"))
        .drop("_cut")
    )


def domain_keep_col(
    rates: dict[str, int],
    default_pct: int = 100,
    domain_col: str = "source",
    seed: str = "sample-v1",
    id_col: str = "doc_id",
) -> Column:
    """Deterministic stratified-sampling predicate: keep a row iff
    ``md5(seed‖id) mod 100 < rate(domain)``. Same retry-safe hash-gate
    as :func:`split_col` (never rand() — a retried task would re-roll),
    so the SAME doc keeps/drops under any partitioning, engine, or
    re-run, and the oracle can restate it exactly."""
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    rate: Column = F.lit(default_pct)
    for dom in sorted(rates):
        rate = F.when(F.col(domain_col) == dom, F.lit(rates[dom])).otherwise(rate)
    return bucket < rate


def sample_by_domain(
    docs: DataFrame,
    rates: dict[str, int],
    default_pct: int = 100,
    domain_col: str = "source",
    seed: str = "sample-v1",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, <domain_col>) — the kept rows under per-domain sampling
    rates (percent), the mixture-reweighting step of a training-data
    pipeline ("keep 100% of wiki, 10% of crawl"). A pure filter over
    the scan — no shuffle, no join, no per-domain pass; rates ride as a
    chained CASE on the domain column."""
    return docs.filter(
        domain_keep_col(rates, default_pct, domain_col, seed, id_col)
    ).select(id_col, domain_col)


#: PII patterns chosen to parse identically under Java regex (Spark)
#: and RE2 (DuckDB): character classes, bounded repeats, \b only.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"


def redact_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, clean_text, n_emails, n_ips, n_phones) — regex PII
    scrubbing (emails → <EMAIL>, IPv4 → <IP>, phone-shaped numbers →
    <PHONE>), the pre-release hygiene pass every public training corpus
    runs. All JVM-side regexp_count/regexp_replace — no Python in the
    row path. Replacements apply in a fixed order (email, ip, phone) on
    the progressively-redacted text so counts can't double-count text
    consumed by an earlier rule.

    ``spread`` first (local-mode only): six full-text regex passes per
    row are the whole cost — a one-task parquet scan would serialize
    them."""
    docs = spread(docs, "doc_id")
    t = F.col(text_col)
    n_emails = F.regexp_count(t, F.lit(PII_EMAIL_RE)).cast("long")
    after_email = F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>")
    n_ips = F.regexp_count(after_email, F.lit(PII_IP_RE)).cast("long")
    after_ip = F.regexp_replace(after_email, PII_IP_RE, "<IP>")
    n_phones = F.regexp_count(after_ip, F.lit(PII_PHONE_RE)).cast("long")
    clean = F.regexp_replace(after_ip, PII_PHONE_RE, "<PHONE>")
    return docs.select(
        "doc_id",
        clean.alias("clean_text"),
        n_emails.alias("n_emails"),
        n_ips.alias("n_ips"),
        n_phones.alias("n_phones"),
    )


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_ws_tokens, n_bpe_ish_tokens): whitespace tokens plus a
    BPE-ish segmentation count (letter runs / digit runs / single other
    chars) — the cheap proxy for LLM token budgeting."""
    d = normalized(docs, text_col)
    return d.select(
        "doc_id",
        F.size(F.split("_norm", " ")).cast("long").alias("n_ws_tokens"),
        F.regexp_count(F.col(text_col), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"))
        .cast("long")
        .alias("n_bpe_ish_tokens"),
    )


def fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, exact_fp, rolling_fp): md5 of normalized text plus a
    content-shift-tolerant fingerprint (min md5 over word 3-shingles —
    a 1-hash MinHash)."""
    from .dedup import word_shingles

    exact = normalized(docs, text_col).select(
        "doc_id", F.md5("_norm").alias("exact_fp")
    )
    rolling = (
        word_shingles(docs, k=3, text_col=text_col)
        .groupBy("doc_id")
        .agg(F.min(F.md5("shingle")).alias("rolling_fp"))
    )
    return exact.join(rolling, "doc_id")


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 4,
    window: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, fp) — winnowing fingerprints (Schleimer et al., the
    MOSS algorithm): hash every word k-gram, slide a ``window`` over
    the hash sequence, keep each window's MINIMUM. Guarantees: any
    shared run of ≥ window+k-1 words between two documents shares at
    least one fingerprint (detection is certain, not probabilistic —
    unlike MinHash), while the kept density is ~2/(window+1) of the
    grams — the index a plagiarism/overlap detector builds is an order
    of magnitude sparser than a full shingle index.

    Pure built-ins: split-once token array → gram array → hash array →
    windowed ``array_min`` selection → ``array_distinct`` → explode.
    One narrow projection per document; the only shuffle is whatever
    the CONSUMER does with the (doc_id, fp) pairs. Documents shorter
    than k words contribute their whole text as the single gram
    (matching :func:`~.dedup.word_shingles`). ``spread`` first (local-
    mode only): the per-gram md5 + windowed min selection is the cost.
    """
    d = normalized(spread(docs, "doc_id"), text_col).withColumn(
        "_w", F.split("_norm", " ")
    )
    grams = F.when(F.size("_w") < k, F.array(F.col("_norm"))).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size("_w") - k),
            lambda i: F.concat_ws(" ", F.slice("_w", i + 1, k)),
        )
    )
    hashes = F.transform(
        grams, lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long")
    )
    d = d.withColumn("_h", hashes)
    nwin = F.greatest(F.size("_h") - F.lit(window) + 1, F.lit(1))
    sel = F.transform(
        F.sequence(F.lit(1), nwin),
        lambda i: F.array_min(F.slice(F.col("_h"), i, window)),
    )
    return d.select("doc_id", F.explode(F.array_distinct(sel)).alias("fp"))


def winnow_overlap_pairs(
    docs: DataFrame,
    min_shared: int = 2,
    k: int = 4,
    window: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """(doc_a, doc_b, n_shared) — document pairs sharing at least
    ``min_shared`` winnowing fingerprints: the sparse-index overlap
    detector. Same inverted-index join shape as the shingle kernels but
    over the ~2/(window+1)-density fingerprint set, so the index build
    and the fp-keyed shuffle move an order of magnitude fewer rows —
    the winnowing guarantee (shared ≥ window+k-1-word runs ARE caught)
    bounds what the sparsity can miss."""
    fps = winnow_fingerprints(docs, k, window, text_col)
    a = fps.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fps.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 16,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, chunk_id, chunk_text, n_tokens) — fixed-size token
    windows with overlap, the standard pre-training chunker. Pure
    built-ins: split → sequence of window starts (stride =
    chunk_tokens − overlap) → slice → concat_ws; one narrow projection,
    no shuffle, embarrassingly parallel at any corpus size.

    Every document emits at least one chunk (short docs yield
    themselves); the final window is the tail remainder (shorter than
    chunk_tokens, never empty)."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    d = normalized(docs, text_col).withColumn("_w", F.split("_norm", " "))
    n = F.size("_w")
    # window starts: 0, stride, 2·stride … while start < n_words; the
    # last start is the largest multiple of stride below n_words
    starts = F.sequence(
        F.lit(0),
        F.greatest(
            F.ceil((n - F.lit(chunk_tokens)) / F.lit(stride)).cast("int"),
            F.lit(0),
        )
        * F.lit(stride),
        F.lit(stride),
    )
    chunks = d.select(
        "doc_id",
        n.alias("_n"),
        F.posexplode(starts).alias("chunk_id", "_start"),
        F.col("_w"),
    )
    piece = F.slice(F.col("_w"), F.col("_start") + 1, chunk_tokens)
    return chunks.select(
        "doc_id",
        "chunk_id",
        F.concat_ws(" ", piece).alias("chunk_text"),
        F.least(F.lit(chunk_tokens), F.col("_n") - F.col("_start")).alias(
            "n_tokens"
        ),
    )


def pack_sequences(
    chunks: DataFrame,
    seq_tokens: int = 2048,
    n_shards: int = 8,
    seed: str = "pack-v1",
    keep_tokens: bool = False,
) -> DataFrame:
    """Assign chunker output to fixed-token packed training SEQUENCES —
    the concat-and-pack step an LLM data pipeline runs after chunking:
    chunks are laid head-to-tail in a deterministic order and cut into
    ``seq_tokens``-sized sequences (a chunk belongs to the sequence its
    START offset falls in; straddling is the standard packed-attention
    case and is the consumer's masking concern).

    Input needs (doc_id, chunk_id, n_tokens, split); output adds
    (shard, seq_id, seq_offset).

    Scale shape: packing needs a sequential order, and a GLOBAL order
    is a single-partition sort at corpus scale — so packing is
    SHARD-LOCAL: docs hash (md5-deterministic, oracle-reproducible —
    never rand()) into ``n_shards`` per split, each (split, shard)
    partition packs independently under one window prefix-sum, and
    sequence ids are unique per (split, shard). Raise n_shards with
    corpus size; determinism is unaffected."""
    shard = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(seed + ":"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % n_shards
    )
    out = chunks.withColumn("shard", shard)
    w = (
        Window.partitionBy("split", "shard")
        .orderBy("doc_id", "chunk_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("long")
    cols = [
        F.col("doc_id"),
        F.col("chunk_id"),
        F.col("split"),
        F.col("shard"),
        F.floor(start / F.lit(seq_tokens)).cast("long").alias("seq_id"),
        (start % F.lit(seq_tokens)).alias("seq_offset"),
    ]
    if keep_tokens:
        cols.append(F.col("n_tokens").cast("long").alias("n_tokens"))
    return out.select(*cols)


def pack_sequences_bfd(
    chunks: DataFrame,
    seq_tokens: int = 2048,
    n_shards: int = 8,
    seed: str = "pack-v1",
) -> DataFrame:
    """Best-fit-decreasing NO-STRADDLE packing — the other standard
    packing policy: every chunk lands whole inside one sequence
    (``seq_offset + n_tokens <= seq_tokens``; no cross-sequence
    attention masking needed), at the cost of per-sequence tail waste
    that BFD minimizes. Chunks sort by (n_tokens DESC, doc_id,
    chunk_id) and each takes the open sequence with the TIGHTEST
    remaining capacity that fits (ties: lowest seq_id), else opens a
    new one; over-long chunks (> seq_tokens) get a dedicated sequence
    at offset 0 (truncation is the consumer's concern).

    Scale shape: bin packing is inherently sequential, so — like
    :func:`pack_sequences` — it runs SHARD-LOCAL: docs hash into
    ``n_shards`` per split and each (split, shard) group packs
    independently inside one ``applyInPandas`` (a justified Python
    island: the loop carries the open-bin state, which no window
    function can express; Arrow-batched, O(n log n) per shard via a
    sorted open-bin list). Raise ``n_shards`` with corpus size.

    Output matches :func:`pack_sequences`'s shape plus ``n_tokens``:
    (doc_id, chunk_id, split, shard, seq_id, seq_offset, n_tokens).
    Deterministic across re-runs and re-partitioning (pytest-pinned;
    differential vs a sequential reference packer).
    """
    import bisect

    import pandas as pd

    shard = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(seed + ":"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % n_shards
    )
    out = chunks.select(
        "doc_id", "chunk_id", "split", shard.alias("shard"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(
            ["n_tokens", "doc_id", "chunk_id"], ascending=[False, True, True]
        ).reset_index(drop=True)
        open_bins: list[tuple[int, int]] = []  # sorted (remaining, seq_id)
        next_id = 0
        seq_ids, offsets = [], []
        for nt in pdf["n_tokens"].astype("int64"):
            nt = int(nt)
            if nt >= seq_tokens:
                sid, off = next_id, 0
                next_id += 1  # exactly-full or over-long: closed at once
            else:
                i = bisect.bisect_left(open_bins, (nt, -1))
                if i < len(open_bins):
                    rem, sid = open_bins.pop(i)
                    off = seq_tokens - rem
                    rem -= nt
                else:
                    sid, off = next_id, 0
                    next_id += 1
                    rem = seq_tokens - nt
                if rem > 0:
                    bisect.insort(open_bins, (rem, sid))
            seq_ids.append(sid)
            offsets.append(off)
        pdf["seq_id"] = pd.Series(seq_ids, dtype="int64")
        pdf["seq_offset"] = pd.Series(offsets, dtype="int64")
        return pdf[
            ["doc_id", "chunk_id", "split", "shard", "seq_id", "seq_offset", "n_tokens"]
        ]

    return out.groupBy("split", "shard").applyInPandas(
        pack,
        schema=(
            "doc_id long, chunk_id long, split string, shard long, "
            "seq_id long, seq_offset long, n_tokens long"
        ),
    )


def pack_stats(
    chunks: DataFrame,
    seq_tokens: int = 2048,
    n_shards: int = 8,
    seed: str = "pack-v1",
) -> DataFrame:
    """(split, n_chunks, total_tokens, n_sequences, fill_ratio) — the
    packing-efficiency report a training-data team watches per shipment:
    how many fixed-token sequences the packed corpus yields and what
    fraction of their token budget is actually filled
    (``total_tokens / (n_sequences · seq_tokens)``; the shortfall is
    per-shard tail waste). One split-keyed aggregation over the packer
    output — no extra corpus pass beyond the packing itself."""
    packed = pack_sequences(
        chunks, seq_tokens, n_shards, seed, keep_tokens=True
    )
    n_seq = F.count_distinct(F.struct("shard", "seq_id"))
    return packed.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_tokens").alias("total_tokens"),
        n_seq.alias("n_sequences"),
        F.round(F.sum("n_tokens") / (n_seq * seq_tokens), 4).alias(
            "fill_ratio"
        ),
    )


def dedup_within_doc(
    docs: DataFrame, seg_words: int = 20, text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_segments, n_kept, clean_text) — remove INTRA-document
    repetition: non-overlapping ``seg_words``-word segments of one
    document dedup against each other, keeping the FIRST occurrence in
    order (the "page glued together its own paragraphs twice" cleanup;
    cross-document frequency is :func:`~.dedup.drop_boilerplate`'s
    job, global first-occurrence :func:`~.dedup.segment_dedup`'s).

    Scale shape: a PURE PROJECTION — the whole dedup is one array fold
    per row (ordered-distinct accumulator), no explode, no shuffle, no
    state beyond the row. Segment boundaries match the segment_dedup /
    chunker convention (last partial window included)."""
    d = normalized(spread(docs, "doc_id"), text_col).withColumn(
        "_toks", F.split("_norm", " ")
    )
    n = F.size("_toks")
    nseg = F.ceil(n / F.lit(seg_words)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), F.greatest(nseg, F.lit(1)) - 1),
        lambda i: F.array_join(
            F.slice("_toks", i * seg_words + 1, seg_words), " "
        ),
    )
    kept = F.aggregate(
        segs,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(F.array_contains(acc, s), acc).otherwise(
            F.concat(acc, F.array(s))
        ),
    )
    return d.select(
        "doc_id",
        F.size(segs).cast("long").alias("n_segments"),
        F.size(kept).cast("long").alias("n_kept"),
        F.array_join(kept, " ").alias("clean_text"),
    )


def interleave_sources(
    docs: DataFrame,
    weights: dict[str, float],
    domain_col: str = "source",
    seed: str = "interleave-v1",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, source, order_key) — a deterministic GLOBAL training
    order that interleaves sources proportionally to ``weights``
    (the mixture-scheduling step after :func:`mix_by_budget` picks the
    documents: a weight-2 source appears twice as often as a weight-1
    source at every prefix of the order). Probabilistic stride
    scheduling: each doc draws a uniform u from the seeded md5 hash and
    sorts by ``u / weight`` — in expectation source s occupies a
    weight_s-proportional share of every order prefix.

    Scale: a PURE PROJECTION — no window, no shuffle here (the exact
    stride form, rank-within-source / weight, needs a per-source
    row_number: one reducer per source — a scale bug for web-sized
    sources; the hash-uniform form is distribution-identical and free).
    The consumer sorts/range-partitions by order_key when writing the
    training shards. Sources absent from ``weights`` get weight 1.
    order_key is rounded to 9 dp for cross-engine hash stability (md5
    collisions aside, keys stay unique: 32 hex bits / weight)."""
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(seed + ":"), F.col(id_col).cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(4294967296.0)
    )
    w = None
    for src, wt in sorted(weights.items()):
        cond = F.col(domain_col) == src
        w = F.when(cond, F.lit(float(wt))) if w is None else w.when(
            cond, F.lit(float(wt))
        )
    wcol = w.otherwise(F.lit(1.0)) if w is not None else F.lit(1.0)
    return docs.select(
        id_col,
        F.col(domain_col).alias("source"),
        F.round(u / wcol, 9).alias("order_key"),
    )


def split_col(
    val_pct: int = 10, seed: str = "split-v1", id_col: str = "doc_id"
) -> "F.Column":
    """The train/val assignment as a pure COLUMN expression — composable
    into any projection with zero extra shuffle (a join against a
    (doc_id, split) table would re-shuffle by doc_id for a value the
    row can compute in place)."""
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string"))), 1, 8),
        16,
        10,
    ).cast("long") % 100
    return F.when(bucket < val_pct, F.lit("val")).otherwise(F.lit("train"))


def split_assign(
    docs: DataFrame,
    val_pct: int = 10,
    seed: str = "split-v1",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, split) — deterministic hash-based train/validation
    assignment: md5(seed ‖ id) mod 100 < val_pct ⇒ 'val'. Stable across
    runs/engines/re-partitioning (never use rand() — a retried task
    would re-roll its rows), and changing ``seed`` re-draws the split
    without touching the data."""
    return docs.select(
        id_col, split_col(val_pct, seed, id_col).alias("split")
    )


def default_classifier_weights(dim: int = 64, seed: str = "qclf-v1") -> list[float]:
    """A deterministic demo weight table for :func:`classifier_score` —
    md5-derived values in [-0.5, 0.5), reproducible engine-side and in
    the SQL oracle (division by 2³² and the 0.5 shift are exact in
    binary floating point, so the oracle's restatement produces the
    bit-identical double). Production replaces this with trained
    weights (e.g. exported from a fastText / logistic quality
    classifier)."""
    out = []
    import hashlib

    for b in range(dim):
        h = hashlib.md5(f"{seed}:{b}".encode()).hexdigest()
        out.append(int(h[:8], 16) / float(1 << 32) - 0.5)
    return out


def classifier_score(
    docs: DataFrame,
    weights: list[float],
    bias: float = 0.0,
    threshold: float = 0.5,
    seed: str = "qclf-v1",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, clf_score, keep) — hashing-trick linear classifier over
    token unigrams (the fastText-style quality gate every LLM corpus
    pipeline runs: score each document with a small trained model and
    keep the high-scoring tail).

    score = sigmoid(bias + Σ_tokens w[md5(seed‖token) mod D]) where D =
    len(weights). The weight table rides along as a LITERAL ARRAY (it
    is model-sized — thousands of floats — never data-sized), the
    per-token bucket→weight lookup is ``element_at`` inside a
    ``transform`` over the split-once token array, and the feature sum
    is one ``aggregate`` — a pure narrow projection: no explode, no
    join, no shuffle, scans each document exactly once. At 100 TB this
    is the ideal shape: embarrassingly parallel, whole-stage-codegen
    friendly, zero exchanges.

    Exactly restated in ANSI SQL (`text_classifier_score` oracle), so
    the hash arithmetic is hash-checked end to end.
    """
    dim = len(weights)
    if dim < 1:
        raise ValueError("weights must be non-empty")
    warr = F.array(*[F.lit(float(w)) for w in weights])
    d = normalized(docs, text_col).withColumn("_toks", F.split("_norm", " "))
    bucket = lambda tok: (  # noqa: E731
        F.conv(
            F.substring(F.md5(F.concat(F.lit(seed + ":"), tok)), 1, 8), 16, 10
        ).cast("long")
        % dim
    )
    feat_sum = F.aggregate(
        F.transform(F.col("_toks"), lambda t: F.element_at(warr, (bucket(t) + 1).cast("int"))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    z = F.lit(float(bias)) + feat_sum
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return d.select(
        "doc_id",
        F.round(score, 6).alias("clf_score"),
        (score >= F.lit(float(threshold))).alias("keep"),
    )


def split_leakage_report(
    docs: DataFrame,
    val_pct: int = 10,
    seed: str = "split-v1",
    jaccard_threshold: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """(doc_a, doc_b, jaccard, split_a, split_b, leaks) — eval-hygiene
    check: near-duplicate pairs whose members land on OPPOSITE sides of
    the train/val split (``leaks`` = 1) silently inflate validation
    scores — the val doc is a paraphrase of something trained on. Run
    this after any split; a nonzero leak count means dedup must run
    BEFORE splitting (or the split must move to cluster granularity).

    Scale shape: the split is a PURE COLUMN over each pair endpoint
    (the same md5 arithmetic as :func:`split_assign` applied to doc_a /
    doc_b in place) — no join against a (doc_id, split) table, so this
    costs exactly one :func:`~.dedup.jaccard_pairs` run plus a
    projection."""
    from .dedup import jaccard_pairs

    pairs = jaccard_pairs(docs, threshold=jaccard_threshold, text_col=text_col)
    sa = split_col(val_pct, seed, "doc_a")
    sb = split_col(val_pct, seed, "doc_b")
    return pairs.select(
        "doc_a",
        "doc_b",
        "jaccard",
        sa.alias("split_a"),
        sb.alias("split_b"),
        (sa != sb).cast("int").alias("leaks"),
    )


def vocab_drift(
    docs_a: DataFrame,
    docs_b: DataFrame,
    alpha: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """One row: (n_tokens_a, n_tokens_b, n_terms_union, kl_ab, js) —
    unigram-distribution drift between two corpus snapshots (the
    shipment-QA gate: a jump in JS divergence between last month's and
    this month's drop means the source changed under you — scraper
    broke, language mix shifted, spam flood). Add-alpha smoothing over
    the UNION vocabulary keeps both KL terms finite;
    ``js = 0.5·KL(P‖M) + 0.5·KL(Q‖M)`` with M the midpoint — symmetric
    and bounded by ln 2.

    Scale shape: each side is one corpus-sized explode collapsing to a
    vocabulary-sized count table (map-side combine); the outer join and
    final fold are vocabulary-sized — ≪ corpus by Heaps' law. The
    per-term contributions fold in TERM order (one vocabulary-sized
    ordered reduction — the price of a bit-exact cross-engine result)."""
    def counts(d: DataFrame) -> DataFrame:
        return (
            normalized(spread(d, "doc_id"), text_col)
            .select(F.explode(F.split("_norm", " ")).alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    ca = counts(docs_a).withColumnRenamed("cnt", "ca")
    cb = counts(docs_b).withColumnRenamed("cnt", "cb")
    j = ca.join(cb, "term", "outer").select(
        "term",
        F.coalesce("ca", F.lit(0).cast("long")).alias("ca"),
        F.coalesce("cb", F.lit(0).cast("long")).alias("cb"),
    )
    tot = j.agg(
        F.sum("ca").alias("ta"),
        F.sum("cb").alias("tb"),
        F.count(F.lit(1)).alias("v"),
    )
    terms = j.crossJoin(F.broadcast(tot))
    p = (F.col("ca") + F.lit(alpha)) / (F.col("ta") + F.lit(alpha) * F.col("v"))
    q = (F.col("cb") + F.lit(alpha)) / (F.col("tb") + F.lit(alpha) * F.col("v"))
    m = (p + q) / 2
    contrib = terms.select(
        "term",
        "ta",
        "tb",
        "v",
        (p * F.log(p / q)).alias("kl_t"),
        (p / 2 * F.log(p / m) + q / 2 * F.log(q / m)).alias("js_t"),
    )
    def ordered_sum(col: str):
        return F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("term", F.col(col)))),
                lambda s: s[col],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    return contrib.groupBy("ta", "tb", "v").agg(
        ordered_sum("kl_t").alias("_kl"), ordered_sum("js_t").alias("_js")
    ).select(
        F.col("ta").alias("n_tokens_a"),
        F.col("tb").alias("n_tokens_b"),
        F.col("v").alias("n_terms_union"),
        F.round("_kl", 6).alias("kl_ab"),
        F.round("_js", 6).alias("js"),
    )


def weighted_sample_k(
    docs: DataFrame,
    k: int,
    weight_col: str,
    seed: str = "wsample-v1",
    id_col: str = "doc_id",
) -> DataFrame:
    """k documents sampled WITHOUT replacement with probability
    proportional to ``weight_col`` (Efraimidis-Spirakis A-ES, public
    algorithm: priority = ln(u)/w with u uniform from the seeded md5 —
    the k HIGHEST priorities are exactly a weighted sample). The
    quality-weighted subsampling primitive: pass a classifier score as
    the weight and the sample skews toward high-quality docs while
    every positive-weight doc keeps a chance.

    Deterministic and retry-stable (hash, not rand()); non-positive
    weights are excluded (they have no defined inclusion odds).
    ``priority`` is rounded to 9 dp BEFORE ranking on BOTH engines
    (ln/div of libm doubles can differ in the last ulp across engines;
    ranking on the rounded value with an id tie-break keeps the sample
    bit-stable), ties break by id.

    Scale: priority is a pure projection; the top-k compiles to
    TakeOrderedAndProject — per-partition partial top-k, no global
    sort."""
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit(seed + ":"), F.col(id_col).cast("string"))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(4294967297.0)  # u in (0, 1] — ln(0) guarded by the +1 shift
    pri = F.round(F.log(u) / F.col(weight_col), 9)
    return (
        docs.filter(F.col(weight_col) > 0)
        .withColumn("priority", pri)
        .orderBy(F.col("priority").desc(), F.col(id_col))
        .limit(k)
    )


def quality_profile(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The fused per-document quality profile: length/punctuation/
    stopword signals, predicted language, 2-gram repetition and the
    BPE-ish token count — logically the 4-way join of
    :func:`quality_scores` ⨝ :func:`language_id` ⨝
    :func:`repetition_scores` ⨝ :func:`token_counts`, physically ONE
    narrow projection over the split-once token array: no join, no
    Exchange, the corpus scanned exactly once (plan-test-pinned).

    This is the operator-fusion shape a 100 TB profiling pass needs —
    each signal alone is cheap, but four separate passes pay four
    scans; the fusion pays one. Signal arithmetic is identical to the
    standalone operators (the oracle composes THEIR oracle texts by
    join, so any drift between fused and standalone breaks the row)."""
    d = normalized(docs, text_col).withColumn("_toks", F.split("_norm", " "))
    n_words = F.size("_toks")
    raw = F.coalesce(F.col(text_col), F.lit(""))
    n_chars = F.length(raw)
    n_punct = F.length(raw) - F.length(F.regexp_replace(raw, r"[.,!?;:]", ""))
    sw = _count_tokens_in(F.col("_toks"), EN_STOPWORDS)
    g2 = F.when(F.size("_toks") < 2, F.array(F.col("_norm"))).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size("_toks") - 2),
            lambda i: F.concat_ws(" ", F.slice("_toks", i + 1, 2)),
        )
    )
    n_g2 = F.size(g2).cast("long")
    n_dup2 = (F.size(g2) - F.size(F.array_distinct(g2))).cast("long")
    return d.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_words.cast("long").alias("n_words"),
        F.round((F.length("_norm") - n_words + 1) / n_words, 4).alias(
            "avg_word_len"
        ),
        F.round(n_punct / F.greatest(n_chars, F.lit(1)), 4).alias(
            "punct_ratio"
        ),
        F.round(sw / n_words, 4).alias("stopword_ratio"),
        language_id_col(F.col("_norm")).alias("pred_lang"),
        n_g2.alias("n_grams_2"),
        n_dup2.alias("n_dup_2"),
        F.round(n_dup2 / n_g2, 4).alias("dup_frac_2"),
        F.regexp_count(
            F.col(text_col), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")
        )
        .cast("long")
        .alias("n_bpe_ish_tokens"),
    )


def pmi_top_pairs(
    docs: DataFrame,
    k: int = 20,
    min_count: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """(w1, w2, n12, pmi, rk) — the k adjacent word pairs with the
    highest pointwise mutual information, ``pmi = ln(p(w1,w2) /
    (p(w1)·p(w2)))`` over the corpus bigram/unigram distributions —
    the classic collocation miner ("new york", "machine learning")
    curation teams run to build phrase vocabularies and spot template
    spam (a few sky-high-PMI pairs dominating a source = boilerplate).
    ``min_count`` suppresses the unstable low-frequency tail.

    Scale shape: one corpus explode for unigrams and one for bigrams,
    both collapsing map-side to vocabulary-sized tables; the PMI join
    keys the bigram table on w1/w2 against the unigram table twice —
    vocabulary-sized joins only, the corpus is never rejoined. PMI is
    rounded to 9 dp BEFORE ranking (ln last-ulp drift), ties break on
    (w1, w2); the global top-k is TakeOrderedAndProject."""
    d = normalized(spread(docs, "doc_id"), text_col).withColumn(
        "_toks", F.split("_norm", " ")
    )
    uni = (
        d.select(F.explode("_toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    n = F.size("_toks")
    bg = (
        d.filter(n >= 2)
        .select(
            F.explode(
                F.zip_with(
                    F.slice("_toks", 1, n - 1),
                    F.slice("_toks", 2, n - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("_p")
        )
        .select("_p.w1", "_p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n12"))
        .filter(F.col("n12") >= min_count)
    )
    tot_uni = uni.agg(F.sum("cnt").alias("nu"))
    tot_bg = bg.agg(F.sum("n12").alias("nb"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("cnt").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("cnt").alias("c2"))
    scored = (
        bg.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot_uni))
        .crossJoin(F.broadcast(tot_bg))
        .withColumn(
            "pmi",
            F.round(
                F.log(
                    (F.col("n12") / F.col("nb"))
                    / ((F.col("c1") / F.col("nu")) * (F.col("c2") / F.col("nu")))
                ),
                9,
            ),
        )
    )
    w = Window.orderBy(F.col("pmi").desc(), "w1", "w2")
    return (
        scored.orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(k)
        .withColumn("rk", F.row_number().over(w))
        .select("w1", "w2", "n12", "pmi", "rk")
    )


def length_strata(
    docs: DataFrame, n_strata: int = 4, text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_words, stratum) — equal-population length strata
    (stratum 0 = shortest quartile at the default 4): the bucketing a
    length-stratified sample or curriculum needs.

    Deliberately NOT ``ntile``: an ntile window over the corpus is ONE
    global sort on a single reducer. Instead the n−1 exact interpolated
    percentile cutpoints are one aggregate row broadcast back, and the
    stratum is a pure comparison sum — two corpus passes, zero global
    sorts, the standard scale-safe quantile-bucketing shape (swap in
    approx_percentile at 100 TB; ties at a cutpoint go to the lower
    stratum — strict > comparisons)."""
    d = normalized(docs, text_col).withColumn(
        "_nw", F.size(F.split("_norm", " ")).cast("long")
    )
    cuts = d.agg(
        *[
            F.percentile("_nw", F.lit(i / n_strata)).alias(f"_c{i}")
            for i in range(1, n_strata)
        ]
    )
    stratum = F.lit(0)
    for i in range(1, n_strata):
        stratum = stratum + (F.col("_nw") > F.col(f"_c{i}")).cast("int")
    return d.crossJoin(F.broadcast(cuts)).select(
        "doc_id", F.col("_nw").alias("n_words"), stratum.alias("stratum")
    )


def trigram_lm_scores(
    docs: DataFrame,
    alpha: float = 0.5,
    l3: float = 0.6,
    l2: float = 0.3,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_trigrams, avg_nll, ppl) — per-document fluency under a
    Jelinek-Mercer INTERPOLATED trigram model trained on the corpus:
    ``p(w3|w1w2) = λ3·p̂3 + λ2·p̂2 + λ1·p̂1`` with each p̂ add-alpha
    smoothed and λ1 = 1−λ3−λ2 (the standard fix for trigram sparsity —
    a pure trigram model assigns the α-floor to every unseen context,
    which is most of them; interpolation lets the bigram/unigram
    estimates carry).

    Scale shape: ONE corpus explode into positional trigram rows; the
    three model tables are vocabulary-sized aggregates DERIVED from the
    trigram counts (never extra corpus passes); the corpus-sized join
    keys on (w1,w2,w3) — maximally spread. Per-doc mean folds in
    position order for the bit-exact oracle. Docs with < 3 tokens carry
    n_trigrams = 0 and NULL scores."""
    l1 = 1.0 - l3 - l2
    # deliberately NOT spread: the trigram explode feeds a (w1,w2,w3)-
    # keyed aggregation whose partial combine parallelizes off the scan,
    # and the corpus-sized tg subtree is evaluated twice (model build +
    # scoring join) — a pre-repartition doubles that exchange (paired
    # in-session A/B: 3.76 s with vs 2.32 s without)
    d = normalized(docs, text_col).withColumn(
        "_toks", F.split("_norm", " ")
    )
    n = F.size("_toks")
    tg = (
        d.filter(n >= 3)
        .select(
            "doc_id",
            F.posexplode(
                F.zip_with(
                    F.zip_with(
                        F.slice("_toks", 1, n - 2),
                        F.slice("_toks", 2, n - 2),
                        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                    ),
                    F.slice("_toks", 3, n - 2),
                    lambda p, c: F.struct(
                        p["w1"].alias("w1"), p["w2"].alias("w2"), c.alias("w3")
                    ),
                )
            ).alias("i", "_t"),
        )
        .select("doc_id", "i", "_t.w1", "_t.w2", "_t.w3")
    )
    c3 = tg.groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("n123"))
    c12 = c3.groupBy("w1", "w2").agg(F.sum("n123").alias("n12"))
    c23 = c3.groupBy("w2", "w3").agg(F.sum("n123").alias("n23"))
    c2_ = c23.groupBy("w2").agg(F.sum("n23").alias("n2"))
    c3u = c3.groupBy("w3").agg(F.sum("n123").alias("n3"))
    tot = c3.agg(F.sum("n123").alias("nt"))
    # vocabulary size DERIVED from the model tables, not the corpus:
    # tg's distinct w3 set equals c3u's row set (c3u groups c3, c3
    # groups tg — both preserve the w3 value set), so counting c3u's
    # rows removes a second full corpus explode + distinct shuffle
    vocab = c3u.agg(F.count(F.lit(1)).alias("_v"))
    a = F.lit(alpha)
    # nll depends ONLY on the trigram key, so the model joins compose
    # on the VOCABULARY-sized c3 table and the corpus-sized tg joins
    # exactly once on the finished per-trigram nll — one corpus shuffle
    # where the old chain shuffled tg through four model joins
    nll_tab = (
        c3.join(c12, ["w1", "w2"])
        .join(c23, ["w2", "w3"])
        .join(c2_, ["w2"])
        .join(c3u, ["w3"])
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "nll",
            -F.log(
                F.lit(l3) * (F.col("n123") + a) / (F.col("n12") + a * F.col("_v"))
                + F.lit(l2) * (F.col("n23") + a) / (F.col("n2") + a * F.col("_v"))
                + F.lit(l1) * (F.col("n3") + a) / (F.col("nt") + a * F.col("_v"))
            ),
        )
        .select("w1", "w2", "w3", "nll")
    )
    scored = tg.join(nll_tab, ["w1", "w2", "w3"])
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_trigrams"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "nll"))),
                lambda s: s["nll"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("_sum"),
    )
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_trigrams", F.lit(0).cast("long")).alias("n_trigrams"),
            F.round(F.col("_sum") / F.col("n_trigrams"), 6).alias("avg_nll"),
            F.round(F.exp(F.col("_sum") / F.col("n_trigrams")), 4).alias("ppl"),
        )
    )


def char_entropy(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_chars, entropy_bits) — Shannon entropy of the
    normalized text's character distribution, in bits: near-zero for
    single-character spam ('aaaa…'), ~4.1 for ordinary English, higher
    for random gibberish/base64 blobs — the cheap
    compression-style quality screen that catches what word-level
    stats miss.

    Scale shape: one position explode to (doc, char) rows, a
    (doc, char)-keyed count (map-side combine collapses to ≤ |alphabet|
    rows per doc per partition), and a doc-keyed fold in char order
    (bit-exact cross-engine). Empty documents carry n_chars = 0 and
    NULL entropy."""
    d = normalized(spread(docs, "doc_id"), text_col)
    n = F.length("_norm")
    ch = (
        d.filter(n >= 1)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), n)).alias("i"),
            F.col("_norm"),
        )
        .select("doc_id", F.expr("substring(_norm, i, 1)").alias("ch"))
    )
    counts = ch.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_chars"),
        F.array_sort(F.collect_list(F.struct("ch", "c"))).alias("_arr"),
    )
    nn = F.col("n_chars").cast("double")
    h = F.aggregate(
        F.transform("_arr", lambda s: s["c"].cast("double")),
        F.lit(0.0),
        lambda acc, c: acc - (c / nn) * F.log2(c / nn),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_chars", F.lit(0).cast("long")).alias("n_chars"),
            F.round(h, 6).alias("entropy_bits"),
        )
    )


def ngram_novelty(
    docs: DataFrame, shingle_k: int = 3, text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_shingles, n_unique, novelty) — the fraction of a
    document's word shingles that appear in NO other document: the
    contribution/novelty score dual to the boilerplate df screen (a
    doc of novelty ~0 adds nothing the corpus doesn't already have —
    prime deletion candidate even when no single pair crosses a
    near-dup threshold).

    Scale shape: one shingle explode, a shingle-keyed df aggregate
    (md5-uniform keys), one join back and a doc-keyed count — the
    drop_boilerplate shuffle shape at shingle granularity."""
    from .dedup import word_shingles

    sh = word_shingles(docs, k=shingle_k, text_col=text_col)
    dfq = sh.groupBy("shingle").agg(
        F.count_distinct("doc_id").alias("_df")
    )
    return (
        sh.join(dfq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("_df") == 1).cast("long")).alias("n_unique"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_unique",
            F.round(F.col("n_unique") / F.col("n_shingles"), 6).alias(
                "novelty"
            ),
        )
    )


def _one_query(spark, query_id: int, terms: list[str]) -> DataFrame:
    """The (query_id, term) table of ONE query for the ``*_many``
    kernels: one row per distinct term, or a single (query_id, NULL)
    row when there are no terms — a NULL term matches no posting, so
    the query still exists for the vector side of a hybrid search."""
    return spark.createDataFrame(
        [(query_id, t) for t in sorted(set(terms))] or [(query_id, None)],
        "query_id long, term string",
    )


def bm25_search(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, score, rk) — the ``k`` best documents for a bag of
    query terms under Okapi BM25 (the standard lexical ranking
    function): ``Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|d|/avgdl))``
    with the Robertson idf ``ln(1 + (N−df+0.5)/(df+0.5))`` (always
    positive). Terms are matched against the normalized token stream;
    repeated terms count once.

    The one-query call of :func:`bm25_search_many`, in rank order."""
    q = _one_query(docs.sparkSession, 0, query_terms)
    return (
        bm25_search_many(docs, q, k=k, k1=k1, b=b, text_col=text_col)
        .drop("query_id")
        .orderBy("rk")
    )


def bm25_search_many(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
) -> DataFrame:
    """(query_id, doc_id, score, rk) — BM25 top-k for a whole TABLE of
    queries at once (``queries``: (query_id, term) rows — the batch
    evaluation/serving shape; :func:`bm25_search` is its single-query
    call). The corpus is scanned ONCE for all queries: the token stream
    semi-joins the distinct query-term set, tf/df build per matched
    term (df and avgdl are tiny broadcast aggregates), and each query's
    scoring join fans out only over its own terms' postings.

    Deterministic cross-engine: scores fold in term order and round to
    9 dp BEFORE the per-query rank window (the ln-in-rank-key
    policy)."""
    d = normalized(spread(docs, "doc_id"), text_col).withColumn(
        "_toks", F.split("_norm", " ")
    )
    lens = d.select("doc_id", F.size("_toks").cast("long").alias("_dl"))
    qterms = queries.select("query_id", "term")
    tok = d.select("doc_id", F.explode("_toks").alias("term")).join(
        F.broadcast(qterms.select("term").distinct()), "term", "left_semi"
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("_tf"))
    dfq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
    stats = lens.agg(
        F.count(F.lit(1)).alias("_n"), F.avg("_dl").alias("_avgdl")
    )
    scored = (
        tf.join(F.broadcast(dfq), "term")
        .join(F.broadcast(qterms), "term")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_s",
            F.log(
                1.0
                + (F.col("_n") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
            )
            * (F.col("_tf") * (k1 + 1))
            / (
                F.col("_tf")
                + F.lit(k1)
                * (1 - b + F.lit(b) * F.col("_dl") / F.col("_avgdl"))
            ),
        )
    )
    per = scored.groupBy("query_id", "doc_id").agg(
        F.round(
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("term", "_s"))),
                    lambda s: s["_s"],
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            9,
        ).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), "doc_id")
    return (
        per.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "doc_id", "score", "rk")
    )


def keyword_contexts(
    docs: DataFrame, term: str, window: int = 3, text_col: str = "text"
) -> DataFrame:
    """(doc_id, pos, context) — every occurrence of ``term`` in the
    normalized token stream with ``window`` words of context either
    side (KWIC — keyword in context: the reviewer view behind a BM25
    hit list; 'show me how this corpus actually uses the word').
    ``pos`` is the 1-based token position.

    Scale shape: one position explode filtered to matches immediately
    (the non-matching positions never leave the projection), context
    sliced from the already-split token array — no second scan, no
    join."""
    d = normalized(spread(docs, "doc_id"), text_col).withColumn(
        "_toks", F.split("_norm", " ")
    )
    n = F.size("_toks")
    hits = d.select(
        "doc_id",
        "_toks",
        n.alias("_n"),
        F.explode(
            F.filter(
                F.transform(
                    F.sequence(F.lit(1), n),
                    lambda i: F.when(
                        F.element_at("_toks", i) == term, i
                    ).otherwise(F.lit(None)),
                ),
                lambda x: x.isNotNull(),
            )
        ).alias("pos"),
    )
    start = F.greatest(F.col("pos") - window, F.lit(1))
    length = F.least(F.col("pos") + window, F.col("_n")) - start + 1
    return hits.select(
        "doc_id",
        "pos",
        F.array_join(F.slice("_toks", start, length), " ").alias("context"),
    )


def mix_by_temperature(
    docs: DataFrame,
    total_tokens: int,
    temperature: float = 1.0,
    domain_col: str = "source",
    seed: str = "mix-v1",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-scaled mixture draw — the Gopher/LLaMA-style source
    weighting that :func:`mix_by_budget` takes as given: source s gets
    weight ``n_s^(1/T) / Σ_j n_j^(1/T)`` of the ``total_tokens``
    budget (T=1 → proportional/natural distribution, T→∞ → uniform;
    T>1 up-weights small sources), then the same deterministic
    hash-ordered prefix draw fills each source's budget.

    Scale shape: the weighting stage runs entirely on the
    SOURCES-sized token-total table (one corpus aggregation feeds it);
    budgets broadcast back onto the corpus rows. The weight ratio is
    rounded to 9 dp before the floor (libm pow differs by 1 ulp across
    engines for general exponents — same defuse as the A-ES sampler).

    Output: (id, domain, n_tokens, cum_tokens, budget) for the
    selected docs."""
    if total_tokens <= 0 or temperature <= 0:
        raise ValueError("total_tokens and temperature must be positive")
    inv_t = 1.0 / temperature
    # deliberately NOT spread: the kernel's own domain groupBy and the
    # per-domain cumulative window re-exchange immediately after the map
    # work — a local-mode pre-repartition only adds a full-text shuffle
    # (paired in-session A/B: 2.13 s with vs 0.91 s without)
    d = normalized(docs, text_col).withColumn(
        "n_tokens", F.size(F.split("_norm", " ")).cast("long")
    )
    totals = d.groupBy(domain_col).agg(F.sum("n_tokens").alias("_n"))
    wsum = totals.agg(
        F.sum(F.pow(F.col("_n").cast("double"), F.lit(inv_t))).alias("_s")
    )
    budgets = (
        totals.crossJoin(F.broadcast(wsum))
        .select(
            domain_col,
            F.floor(
                F.round(
                    F.pow(F.col("_n").cast("double"), F.lit(inv_t))
                    / F.col("_s"),
                    9,
                )
                * F.lit(int(total_tokens))
            ).cast("long").alias("budget"),
        )
    )
    h = F.md5(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string")))
    w = (
        Window.partitionBy(domain_col)
        .orderBy(h, F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.join(F.broadcast(budgets), domain_col)
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= F.col("budget"))
        .select(id_col, domain_col, "n_tokens", "cum_tokens", "budget")
    )


def unimax_allocation(
    docs: DataFrame,
    total_tokens: int,
    max_epochs: float = 4.0,
    domain_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """(source, n_tokens, cap_tokens, alloc_tokens, epochs, saturated)
    — the UniMax budget allocation (Chung et al. 2023): distribute
    ``total_tokens`` as UNIFORMLY across sources as possible, subject
    to no source repeating more than ``max_epochs`` times. This is the
    principled alternative to temperature tuning: temperature trades
    head-source dilution against tail-source over-epoching GLOBALLY,
    while UniMax gives every source the same water level and lets only
    genuinely small sources saturate at their epoch cap.

    Closed-form waterfilling, no iteration: sort sources by capacity
    (``cap = max_epochs·n_tokens``) ascending; source j saturates iff
    funding every source before it fully AND giving all remaining
    sources cap_j still fits the budget
    (``prefix_{j-1} + cap_j·(m-j+1) <= B`` — the standard level
    condition); unsaturated sources share the leftover equally. Both
    the condition and the shares are window/prefix-sum expressions —
    identical in ANSI SQL, so the oracle is bit-exact (the only
    division is exact-int/exact-int, rounded to 4 dp on both engines).

    Scale shape: one corpus aggregation to the SOURCES-sized token
    table; everything after runs on m rows. Pair with the
    :func:`mix_by_budget` prefix draw to materialize the corpus
    (epochs > 1 ⇒ repeat the source's draw ``floor(epochs)`` times +
    a fractional prefix — :func:`epoch_expand`)."""
    if total_tokens <= 0 or max_epochs <= 0:
        raise ValueError("total_tokens and max_epochs must be positive")
    from ..operators.dedup import normalized

    d = normalized(docs, text_col).withColumn(
        "n_tokens", F.size(F.split("_norm", " ")).cast("long")
    )
    totals = d.groupBy(domain_col).agg(
        F.sum("n_tokens").cast("long").alias("n_tokens")
    )
    cap = F.round(F.col("n_tokens") * F.lit(float(max_epochs))).cast("long")
    t = totals.withColumn("cap_tokens", cap)
    w_ord = Window.orderBy("cap_tokens", domain_col)
    t = (
        t.withColumn("_j", F.row_number().over(w_ord))
        .withColumn(
            "_prefix",
            F.coalesce(
                F.sum("cap_tokens").over(
                    w_ord.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0).cast("long"),
            ),
        )
        .withColumn("_m", F.count(F.lit(1)).over(Window.partitionBy()))
        .withColumn(
            "saturated",
            F.col("_prefix")
            + F.col("cap_tokens") * (F.col("_m") - F.col("_j") + 1)
            <= F.lit(int(total_tokens)),
        )
    )
    agg = Window.partitionBy()
    sat_cap = F.coalesce(
        F.sum(F.when(F.col("saturated"), F.col("cap_tokens"))).over(agg),
        F.lit(0).cast("long"),
    )
    n_unsat = F.sum(F.when(F.col("saturated"), 0).otherwise(1)).over(agg)
    level = F.round(
        (F.lit(int(total_tokens)) - sat_cap)
        / F.when(n_unsat > 0, n_unsat).otherwise(F.lit(1)),
        4,
    )
    return (
        t.withColumn(
            "alloc_tokens",
            F.when(F.col("saturated"), F.col("cap_tokens").cast("double"))
            .otherwise(level),
        )
        .withColumn(
            "epochs", F.round(F.col("alloc_tokens") / F.col("n_tokens"), 6)
        )
        .select(
            domain_col, "n_tokens", "cap_tokens",
            "alloc_tokens", "epochs", "saturated",
        )
    )


def unimax_draw(
    docs: DataFrame,
    total_tokens: int,
    max_epochs: float = 4.0,
    domain_col: str = "source",
    text_col: str = "text",
    seed: str = "epoch-v1",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, source, copy_idx) — the UniMax TRAINING MULTISET:
    :func:`unimax_allocation` decides each source's epoch factor, then
    :func:`epoch_expand` materializes it (⌊e⌋ full copies + a
    deterministic-hash fractional slice). The complete Chung et al.
    2023 recipe from budget to repeatable training set in two kernels.

    The allocation collect is the DoReMi-weights pattern: an m-row
    (sources-sized) bounded table, never corpus rows."""
    alloc = unimax_allocation(
        docs,
        total_tokens=total_tokens,
        max_epochs=max_epochs,
        domain_col=domain_col,
        text_col=text_col,
    ).select(domain_col, "epochs").collect()
    factors = {r[domain_col]: float(r["epochs"]) for r in alloc}
    return epoch_expand(
        docs, factors, seed=seed, source_col=domain_col, id_col=id_col
    )


# --------------------------------------------------------------------------
# DSIR-style importance resampling (Xie et al. 2023, "Data Selection
# for Language Models via Importance Resampling"): select raw-corpus
# documents whose hashed-n-gram distribution resembles a TARGET corpus.
# --------------------------------------------------------------------------


def _dsir_grams(docs: DataFrame, text_col: str, seed: str, m_buckets: int):
    """(doc_id, bucket) — one row per unigram/bigram OCCURRENCE of the
    normalized text, hashed into ``m_buckets`` (hashing trick, same md5
    arithmetic as :func:`classifier_score`). Empty documents emit no
    rows.

    Deliberately NOT spread: every consumer immediately collapses the
    gram rows into an m_buckets-sized aggregate whose partial (map-side)
    combine parallelizes fine off the scan; a pre-repartition only adds
    a full-text exchange (paired in-session A/B: 2.7/2.3 s with vs
    2.3/2.1 s without on the two DSIR driver rows)."""
    from ..operators.dedup import normalized

    d = normalized(docs, text_col).withColumn(
        "_w", F.split("_norm", " ")
    )
    unis = F.filter(F.col("_w"), lambda t: F.length(t) > 0)
    # sequence(1, 0) DESCENDS under ANSI — guard short docs explicitly
    bis = F.when(
        F.size("_w") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("_w") - 1),
            lambda i: F.concat_ws(
                " ", F.element_at("_w", i), F.element_at("_w", (i + 1).cast("int"))
            ),
        ),
    ).otherwise(F.expr("cast(array() as array<string>)"))
    grams = d.select(
        "doc_id", F.explode(F.concat(unis, bis)).alias("g")
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(seed + ":"), F.col("g"))), 1, 8),
            16, 10,
        ).cast("long")
        % m_buckets
    )
    return grams.select("doc_id", bucket.alias("bucket"))


def dsir_bucket_logratios(
    raw: DataFrame,
    target: DataFrame,
    m_buckets: int = 256,
    alpha: float = 1.0,
    seed: str = "dsir-v1",
    text_col: str = "text",
) -> DataFrame:
    """(bucket, log_ratio) — add-α-smoothed log p_target(b) − log
    p_raw(b) over the hashed-gram buckets, one row per bucket PRESENT
    IN THE RAW corpus (weights are only ever applied to raw docs, whose
    buckets all appear here). Both distribution tables are
    ``m_buckets``-sized — broadcast material by construction, however
    large the corpora. log_ratio is rounded to 9 dp (libm ln drifts in
    the last ulp across engines; every downstream product/sum then
    operates on bit-identical doubles — the weighted_sample policy).

    Composes :func:`dsir_bucket_counts` (the mergeable distribution
    sketch) with :func:`dsir_ratios_from_counts` (the pure read-off);
    incremental pipelines persist the count tables and retrain ratios
    from merged counts without rescanning history."""
    return dsir_ratios_from_counts(
        dsir_bucket_counts(raw, m_buckets, seed, text_col),
        dsir_bucket_counts(target, m_buckets, seed, text_col),
        m_buckets=m_buckets,
        alpha=alpha,
    )


def dsir_bucket_counts(
    docs: DataFrame,
    m_buckets: int = 256,
    seed: str = "dsir-v1",
    text_col: str = "text",
) -> DataFrame:
    """(bucket, cnt) — a corpus's hashed-gram distribution table: the
    MERGEABLE sketch of the DSIR family. Counts are additive, so
    shipment tables merge by per-bucket sum (:func:`merge_bucket_counts`)
    — exactly like the CMS/HLL/histogram sketches, the state a rolling
    pipeline persists so ratio retraining never rescans history. At
    most ``m_buckets`` rows regardless of corpus size."""
    return (
        _dsir_grams(docs, text_col, seed, m_buckets)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def merge_bucket_counts(*tables: DataFrame) -> DataFrame:
    """Per-bucket sum of any number of (bucket, cnt) shipment tables —
    counts(A ∪ B) == merge(counts(A), counts(B)), pytest-pinned."""
    if not tables:
        raise ValueError("merge_bucket_counts needs at least one table")
    out = tables[0]
    for t in tables[1:]:
        out = out.unionByName(t)
    return out.groupBy("bucket").agg(F.sum("cnt").alias("cnt"))


def dsir_ratios_from_counts(
    raw_counts: DataFrame,
    target_counts: DataFrame,
    m_buckets: int = 256,
    alpha: float = 1.0,
) -> DataFrame:
    """(bucket, log_ratio) from two prebuilt/merged (bucket, cnt)
    tables — the pure read-off stage of the trainer (no text access;
    both inputs are ≤ m_buckets rows)."""
    rb = raw_counts.select("bucket", F.col("cnt").alias("rc"))
    tb = target_counts.select("bucket", F.col("cnt").alias("tc"))
    rt = rb.agg(F.sum("rc").alias("rtot"))
    tt = tb.agg(F.coalesce(F.sum("tc"), F.lit(0).cast("long")).alias("ttot"))
    am = float(alpha) * m_buckets
    return (
        rb.join(tb, "bucket", "left")
        .crossJoin(F.broadcast(rt))
        .crossJoin(F.broadcast(tt))
        .select(
            "bucket",
            F.round(
                F.log(
                    (F.coalesce("tc", F.lit(0).cast("long")) + F.lit(float(alpha)))
                    / (F.col("ttot") + F.lit(am))
                )
                - F.log(
                    (F.col("rc") + F.lit(float(alpha)))
                    / (F.col("rtot") + F.lit(am))
                ),
                9,
            ).alias("log_ratio"),
        )
    )


def dsir_score_with_ratios(
    docs: DataFrame,
    ratios: DataFrame,
    m_buckets: int = 256,
    seed: str = "dsir-v1",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_grams, log_weight) — score documents against a
    PRE-TRAINED bucket log-ratio table (the apply side of DSIR; the
    operational train-batch / score-anywhere split — the same shape as
    ``score_with_bigram_model``). Buckets missing from the ratio table
    (grams unseen when the ratios were trained) contribute 0: the
    smoothed-log-ratio of an unseen-in-both bucket is itself ~0, and a
    drifted shipment's novel buckets scoring neutral is the
    conservative choice. Per-doc weight folds in bucket order —
    bit-reproducible in SQL via ``sum(x ORDER BY bucket)``."""
    db = (
        _dsir_grams(docs, text_col, seed, m_buckets)
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    contrib = db.join(F.broadcast(ratios), "bucket", "left").select(
        "doc_id",
        "bucket",
        "c",
        (F.col("c") * F.coalesce("log_ratio", F.lit(0.0))).alias("x"),
    )
    agg = contrib.groupBy("doc_id").agg(
        F.sum("c").alias("n_grams"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("bucket", "x"))),
                lambda s: s["x"],
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("_s"),
    )
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0).cast("long")).alias("n_grams"),
            F.round(F.coalesce("_s", F.lit(0.0)), 6).alias("log_weight"),
        )
    )


def dsir_log_weights(
    raw: DataFrame,
    target: DataFrame,
    m_buckets: int = 256,
    alpha: float = 1.0,
    seed: str = "dsir-v1",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_grams, log_weight) for every RAW document: the DSIR
    importance log-weight Σ_b count_doc(b) · log_ratio(b). Shape at
    100 TB: the ratio table is m-row broadcast material; per-doc
    bucket counts are one doc-keyed hash aggregation; the weight is an
    ordered fold over each doc's ≤ m bucket rows
    (sort_array(struct(bucket, contrib))) so the DuckDB oracle's
    ``sum(x ORDER BY bucket)`` reproduces every double bit-for-bit.
    Docs with no grams carry weight 0 (neutral). Train/apply split:
    :func:`dsir_bucket_logratios` is the trainer,
    :func:`dsir_score_with_ratios` the applier — this composes them
    (every raw bucket exists in the freshly-trained table, so the
    apply-side left join is exact here)."""
    lr = dsir_bucket_logratios(raw, target, m_buckets, alpha, seed, text_col)
    return dsir_score_with_ratios(raw, lr, m_buckets, seed, text_col)


def dsir_sample(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    m_buckets: int = 256,
    alpha: float = 1.0,
    seed: str = "dsir-v1",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, log_weight, score) — the top-``k`` Gumbel-perturbed
    draw of the DSIR distribution: score = log_weight + Gumbel(0,1),
    the exact sampling-without-replacement trick (perturb by
    −ln(−ln u), take the top k ⇔ sample ∝ exp(log_weight)). u derives
    from the seeded md5 of doc_id, the Gumbel noise is rounded to 9 dp
    before the sum (cross-engine ln policy), and the top-k is
    orderBy+limit — TakeOrderedAndProject, never a global sort."""
    lw = dsir_log_weights(raw, target, m_buckets, alpha, seed, text_col)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(seed + "-s:"), F.col("doc_id").cast("string"))),
                1, 8,
            ),
            16, 10,
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(4294967297.0)
    g = F.round(-F.log(-F.log(u)), 9)
    return (
        lw.select(
            "doc_id", "log_weight",
            F.round(F.col("log_weight") + g, 9).alias("score"),
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(k)
    )


def packed_doc_spans(packed: DataFrame, seq_tokens: int) -> DataFrame:
    """(split, shard, seq_id, doc_id, chunk_id, begin_tok, end_tok) —
    the ATTENTION-MASK contract of a packed training set: for every
    packed sequence, which token ranges belong to which document.
    :func:`pack_sequences` lets chunks straddle sequence boundaries
    (assigning each chunk to the sequence its start falls in); the
    trainer masking cross-document attention needs the straddle
    resolved — a chunk spilling into later sequences appears here once
    PER COVERED SEQUENCE with its in-sequence [begin_tok, end_tok)
    range.

    Input is ``pack_sequences(keep_tokens=True)`` output. Pure narrow
    arithmetic + one bounded explode (a chunk covers at most
    ⌈n_tokens/seq_tokens⌉ + 1 sequences), then no shuffle at all —
    consumers group by (split, shard, seq_id) on read, typically after
    a partitioned write on the same keys."""
    s = F.col("seq_id") * seq_tokens + F.col("seq_offset")
    e = s + F.col("n_tokens")
    out = packed.select(
        "doc_id", "chunk_id", "split", "shard",
        s.alias("_s"), e.alias("_e"),
        F.explode(
            F.sequence(
                F.col("seq_id"),
                F.floor((s + F.col("n_tokens") - 1) / seq_tokens).cast("long"),
            )
        ).alias("seq_id"),
    )
    lo = F.col("seq_id") * seq_tokens
    return out.select(
        "split",
        "shard",
        "seq_id",
        "doc_id",
        "chunk_id",
        (F.greatest(F.col("_s"), lo) - lo).cast("long").alias("begin_tok"),
        (F.least(F.col("_e"), lo + seq_tokens) - lo).cast("long").alias(
            "end_tok"
        ),
    )


# --------------------------------------------------------------------------
# quality-classifier TRAINING — the missing half of classifier_score
# --------------------------------------------------------------------------


def classifier_features(
    docs: DataFrame,
    positive: Column,
    dim: int = 64,
    seed: str = "qclf-v1",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, y, bucket, x) — hashed-unigram feature rows for
    logistic-regression training: bucket = md5(seed‖token) mod ``dim``
    (the same arithmetic :func:`classifier_score` applies at inference,
    so trained weights drop straight into it), x = bucket count /
    document token count, plus one bias row per document
    (bucket = −1, x = 1). ``positive`` is the label expression —
    typically membership in a trusted-source seed set (the fastText
    quality-filter recipe: positives = curated corpora, negatives =
    random web).

    One corpus-sized explode collapsing to ≤ min(doc_len, dim)+1 rows
    per document (map-side combine); everything downstream of this
    table is feature-sized, not text-sized."""
    d = (
        normalized(spread(docs, "doc_id"), text_col)
        .withColumn("_y", positive.cast("double"))
        .withColumn("_toks", F.split("_norm", " "))
        .withColumn("_n", F.size("_toks"))
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(seed + ":"), F.col("_tok"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % dim
    )
    feat = (
        d.select("doc_id", "_y", "_n", F.explode("_toks").alias("_tok"))
        .select("doc_id", "_y", "_n", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(
            F.max("_y").alias("y"),
            (F.count(F.lit(1)) / F.max("_n")).alias("x"),
        )
    )
    bias_rows = d.select(
        "doc_id",
        F.col("_y").alias("y"),
        F.lit(-1).cast("long").alias("bucket"),
        F.lit(1.0).alias("x"),
    ).select("doc_id", "bucket", "y", "x")
    return feat.select("doc_id", "bucket", "y", "x").unionByName(bias_rows)


def fit_quality_classifier(
    docs: DataFrame,
    positive: Column,
    dim: int = 64,
    iters: int = 4,
    lr: float = 1.0,
    seed: str = "qclf-v1",
    text_col: str = "text",
    quant: float = 1e9,
) -> tuple[list[float], float]:
    """Full-batch gradient-descent logistic regression over
    :func:`classifier_features` → (weights[dim], bias), ready for
    :func:`classifier_score`. Every LLM curation stack trains this
    gate (fastText/CCNet-style: label a seed set, fit a linear model,
    keep the high-scoring tail); this is the distributed trainer.

    Determinism + scale contract, per iteration:

    - the model rides to the executors as a LITERAL weight array
      (model-sized — never a join against the corpus);
    - per-document logits fold the ≤ dim+1 feature rows in bucket
      order (bounded arrays — safe to sort per group), then
      p = round(σ(z), 9) defuses last-ulp libm ``exp`` drift;
    - the gradient is quantized to ``quant`` FIXED-POINT integers and
      summed as exact decimals — integer addition is associative, so
      the sum is shuffle-order-independent AND map-side combinable
      (an ordered float fold here would materialize corpus-sized
      per-bucket arrays — the non-scalable alternative);
    - one bounded collect of dim+1 gradient cells per iteration
      (driver rounds = ``iters``, each a 2-shuffle job).

    The DuckDB oracle (`text_classifier_train`) unrolls the iterations
    as CTE pairs and reproduces every weight bit-for-bit."""
    spark = docs.sparkSession
    feats = classifier_features(docs, positive, dim, seed, text_col)
    feats = feats.persist()
    try:
        n = feats.filter(F.col("bucket") == -1).count()  # one row per doc
        if n == 0:
            return [0.0] * dim, 0.0
        w = {b: 0.0 for b in range(-1, dim)}
        for _ in range(iters):
            warr = F.array(*[F.lit(w[b]) for b in range(-1, dim)])
            z = F.aggregate(
                F.array_sort(F.collect_list(F.struct("bucket", "x"))),
                F.lit(0.0),
                lambda acc, s: acc
                + s["x"]
                * F.element_at(warr, (s["bucket"] + 2).cast("int")),
            )
            pdoc = feats.groupBy("doc_id").agg(
                F.max("y").alias("y"),
                F.round(
                    F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 9
                ).alias("p"),
            )
            grad = (
                feats.join(pdoc.select("doc_id", "p"), "doc_id")
                .groupBy("bucket")
                .agg(
                    F.sum(
                        F.round(
                            (F.col("p") - F.col("y")) * F.col("x") * quant, 0
                        ).cast("decimal(38,0)")
                    ).alias("gq")
                )
            )
            g = {r["bucket"]: float(r["gq"]) for r in grad.collect()}
            w = {
                b: round_half_up(
                    w[b] - lr * ((g.get(b, 0.0) / quant) / n), 9
                )
                for b in range(-1, dim)
            }
    finally:
        feats.unpersist()
    return [w[b] for b in range(dim)], w[-1]


def round_half_up(v: float, digits: int) -> float:
    """Driver-side twin of Spark's ``F.round`` (BigDecimal HALF_UP over
    the shortest decimal representation) — weight updates must round
    identically to the SQL oracle's ``round(x, 9)``."""
    import decimal

    return float(
        decimal.Decimal(repr(v)).quantize(
            decimal.Decimal(1).scaleb(-digits), rounding=decimal.ROUND_HALF_UP
        )
    )


def train_quality_classifier(
    docs: DataFrame,
    positive: Column,
    dim: int = 64,
    iters: int = 4,
    lr: float = 1.0,
    seed: str = "qclf-v1",
    text_col: str = "text",
) -> DataFrame:
    """(bucket, weight) — the trained model of
    :func:`fit_quality_classifier` as a DataFrame (bucket −1 = bias):
    the persistable/driver-checkable form; feed the list form straight
    into :func:`classifier_score` for the inference gate."""
    weights, bias = fit_quality_classifier(
        docs, positive, dim=dim, iters=iters, lr=lr, seed=seed,
        text_col=text_col,
    )
    spark = docs.sparkSession
    rows = [(-1, float(bias))] + [
        (b, float(weights[b])) for b in range(dim)
    ]
    return spark.createDataFrame(rows, "bucket int, weight double")


C4_BAD_PHRASES = ("lorem ipsum", "terms of use", "privacy policy", "cookie policy")


def c4_quality(
    docs: DataFrame,
    text_col: str = "text",
    min_line_words: int = 5,
    min_sentences: int = 3,
    min_kept_lines: int = 1,
) -> DataFrame:
    """Per-document signals + keep flag for the published C4 cleaning
    rules (Raffel et al. 2020, §2.2) — the other standard heuristic
    bundle next to :func:`gopher_quality`: keep only lines that end in
    terminal punctuation AND have ≥ ``min_line_words`` words; drop
    documents with fewer than ``min_sentences`` sentences, any curly
    brace (code), or a blocklisted boilerplate phrase ("lorem ipsum",
    policy pages). Returns the cleaned text (kept lines re-joined) plus
    every signal so thresholds re-tune by query.

    Scale shape: identical to gopher_quality — one narrow projection
    over a split-once line array, no explode, no shuffle, no UDF; the
    document-level gates compose as boolean columns."""
    raw = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.split(raw, "\n")
    is_kept = lambda ln: (  # noqa: E731
        F.trim(ln).rlike(r'[.!?"]$')
        & (F.size(F.split(F.trim(ln), r"\s+")) >= min_line_words)
    )
    kept = F.filter(lines, is_kept)
    clean = F.array_join(F.transform(kept, F.trim), "\n")
    low = F.lower(raw)
    n_sentences = (
        F.size(F.filter(F.split(low, r"[.!?]"), lambda s: F.trim(s) != ""))
    ).cast("long")
    has_brace = low.contains("{") | low.contains("}")
    has_bad = None
    for p in C4_BAD_PHRASES:
        c = low.contains(p)
        has_bad = c if has_bad is None else (has_bad | c)
    keep = (
        (F.size(kept) >= min_kept_lines)
        & (n_sentences >= min_sentences)
        & ~has_brace
        & ~has_bad
    )
    return docs.select(
        "doc_id",
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept_lines"),
        n_sentences.alias("n_sentences"),
        has_brace.cast("int").alias("has_brace"),
        has_bad.cast("int").alias("has_bad_phrase"),
        keep.cast("int").alias("keep"),
        clean.alias("clean_text"),
    )


def epoch_expand(
    docs: DataFrame,
    factors: dict[str, float],
    seed: str = "epoch-v1",
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, source, copy_idx) — the training multiset for a mixture
    with FRACTIONAL per-source epoch factors (the published mixture
    recipe: high-quality sources repeat 2–5 epochs, bulk web < 1): each
    document appears ⌊e⌋ times plus once more iff its deterministic
    hash draw falls under frac(e) — so a source with e = 2.3 repeats
    every doc twice and a hash-chosen 30% slice a third time, giving
    exactly e× expected tokens with zero randomness (a retried task
    re-derives the same copies; the same seed reproduces the same
    training set end to end).

    Sources missing from ``factors`` get 0 — dropped.

    Scale shape: the factor table is a sources-sized literal MAP (no
    join), the per-doc draw is one md5, and the expansion is a bounded
    explode (≤ ⌈max e⌉ rows per doc) — narrow, shuffle-free; writers
    downstream typically repartition by hash(doc_id, copy_idx) to
    spread the repeats."""
    kv: list[Column] = []
    for k, v in factors.items():
        kv.append(F.lit(k))
        kv.append(F.lit(float(v)))
    fmap = F.create_map(*kv) if kv else F.create_map()
    ep = F.coalesce(
        F.element_at(fmap, F.col(source_col)), F.lit(0.0)
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(seed + ":"), F.col(id_col).cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296.0)
    )
    n = (F.floor(ep) + F.when(u < ep - F.floor(ep), 1).otherwise(0)).cast(
        "int"
    )
    return (
        docs.select(id_col, source_col, n.alias("_n"))
        .filter(F.col("_n") > 0)
        .select(
            id_col,
            source_col,
            F.explode(F.sequence(F.lit(0), F.col("_n") - 1)).alias(
                "copy_idx"
            ),
        )
    )


def ccnet_buckets(
    docs: DataFrame,
    alpha: float = 0.5,
    cuts: tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, pred_lang, ppl, bucket) — the CCNet quality tiers
    (Wenzek et al. 2020): per detected language, rank documents by LM
    perplexity and label the head / middle / tail tertiles (head =
    most fluent; the published pipeline trains on head+middle and
    drops or downweights tail). Composition of :func:`language_id` +
    :func:`bigram_lm_scores` + per-language EXACT interpolating
    percentile cutpoints.

    Determinism: tier thresholds compare the ROUNDED ppl column
    against 6-dp-rounded cutpoints — thresholding unrounded floats
    across engines is the known landmine. Documents too short to score
    (ppl NULL) fall to 'tail' in both engines (NULL fails every
    comparison into the ELSE branch).

    Scale shape: one doc-keyed join of two corpus passes, then a
    LANGUAGES-sized cutpoint table broadcast back — the corpus is
    never re-shuffled for the tiering. Exact percentiles buffer each
    language's ppl values; at 100 TB swap `approx_percentile` with a
    pinned accuracy (same one-line swap as corpus_stats).

    Both corpus passes skip the local-mode ``spread`` repartition: their
    outputs meet at a doc-keyed join that re-exchanges anyway, so the
    two pre-exchanges were pure loss (paired bench-methodology A/B:
    5.91 s with vs 3.89 s without)."""
    lang = language_id(docs, text_col, spread_input=False)
    ppl = bigram_lm_scores(
        docs, alpha=alpha, text_col=text_col, spread_input=False
    ).select(
        "doc_id", "ppl"
    )
    scored = ppl.join(lang, "doc_id")
    cutpoints = scored.groupBy("pred_lang").agg(
        F.round(F.percentile("ppl", F.lit(cuts[0])), 6).alias("_c1"),
        F.round(F.percentile("ppl", F.lit(cuts[1])), 6).alias("_c2"),
    )
    out = scored.join(F.broadcast(cutpoints), "pred_lang")
    bucket = (
        F.when(F.col("ppl") <= F.col("_c1"), F.lit("head"))
        .when(F.col("ppl") <= F.col("_c2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return out.select("doc_id", "pred_lang", "ppl", bucket.alias("bucket"))


def hash_embed(
    docs: DataFrame,
    dim: int = 64,
    seed: str = "hembed-v1",
    text_col: str = "text",
    dense: bool = False,
) -> DataFrame:
    """Hashed bag-of-words document embeddings — the text→vector
    bridge when no neural encoder is in the loop (classic feature
    hashing): bucket = md5(seed‖token) mod ``dim``, value = bucket
    count L2-normalized per document. Long form (doc_id, bucket, val)
    by default — the oracle-checkable shape; ``dense=True`` returns
    (doc_id, embedding array<double>) ready for the ANN / k-means /
    SemDeDup operators (``vec_id`` = ``doc_id``), composing the text
    side with the whole similarity family.

    Determinism: counts are exact integers, the per-doc norm is
    sqrt(Σ cnt²) — an INTEGER sum, so no fold-order question exists —
    and each value is one division. No floats accumulate.

    Scale shape: one corpus explode collapsing to ≤ min(len, dim) rows
    per doc (map-side combine); the dense form adds a per-doc bounded
    sort+transform, no extra shuffle."""
    d = normalized(spread(docs, "doc_id"), text_col).withColumn(
        "_toks", F.split("_norm", " ")
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(seed + ":"), F.col("_tok"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % dim
    )
    counts = (
        d.select("doc_id", F.explode("_toks").alias("_tok"))
        .select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    w = Window.partitionBy("doc_id")
    vals = counts.withColumn(
        "val",
        F.col("_c") / F.sqrt(F.sum(F.col("_c") * F.col("_c")).over(w)),
    )
    if not dense:
        return vals.select("doc_id", "bucket", F.round("val", 6).alias("val"))
    pairs = vals.groupBy("doc_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("bucket", "val")))
        ).alias("_m")
    )
    idx = F.sequence(F.lit(0), F.lit(dim - 1))
    return pairs.select(
        "doc_id",
        F.transform(
            idx,
            lambda b: F.coalesce(
                F.element_at(F.col("_m"), b.cast("long")), F.lit(0.0)
            ),
        ).alias("embedding"),
    )


#: Unicode-script codepoint ranges for the script profile — EXPLICIT
#: BMP ranges, not \p{script=...} classes, so Spark (Java regex /
#: UTF-16) and DuckDB (RE2 / codepoints) compute bit-identical counts
#: by construction (the two engines' \p unicode tables drift across
#: versions; a range test on the codepoint cannot). Supplementary-plane
#: scripts (Han ext-B+, emoji) fall into ``other`` — documented
#: limitation of the UTF-16 code-unit view.
SCRIPT_RANGES: dict[str, tuple[tuple[int, int], ...]] = {
    "arabic": ((0x0600, 0x06FF), (0x0750, 0x077F)),
    "cyrillic": ((0x0400, 0x052F),),
    "digit": ((0x0030, 0x0039),),
    "greek": ((0x0370, 0x03FF),),
    "han": ((0x4E00, 0x9FFF), (0x3400, 0x4DBF)),
    "hangul": ((0xAC00, 0xD7AF), (0x1100, 0x11FF)),
    "hebrew": ((0x0590, 0x05FF),),
    "kana": ((0x3040, 0x309F), (0x30A0, 0x30FF)),
    "latin": ((0x0041, 0x005A), (0x0061, 0x007A), (0x00C0, 0x024F)),
}


def script_profile(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_chars, <script counts...>, other, main_script) — the
    per-document Unicode-script histogram a multilingual curation
    pipeline reads BEFORE language ID: marker-word language detection
    (:func:`language_id`) only works within an alphabet, so the script
    split (Latin vs Cyrillic vs Han vs ...) is the coarse router that
    decides which language-ID path and which tokenizer a document even
    goes to — and mixed-script documents (spam, mojibake, wrong-charset
    decodes) show up here as no dominant script.

    Pure narrow projection: the text splits to characters ONCE, maps to
    codepoints once (``ascii`` — first UTF-16 unit; all tabulated
    ranges are BMP so the unit equals the codepoint), and every script
    count filters the same array. No explode, no shuffle. ``other`` =
    total chars − tabulated chars (spaces, punctuation,
    supplementary-plane); ``main_script`` = argmax with alphabetical
    tie-break, ``none`` when no tabulated script occurs.

    ``spread`` first (local-mode only): the per-character codepoint map
    and range filters are CPU-bound."""
    docs = spread(docs, "doc_id")
    names = sorted(SCRIPT_RANGES)
    txt = F.coalesce(F.col(text_col), F.lit(""))
    chars = F.filter(F.split(txt, ""), lambda c: c != F.lit(""))
    cps = F.transform(chars, lambda c: F.ascii(c))

    def in_ranges(cp, ranges):
        cond = F.lit(False)
        for lo, hi in ranges:
            cond = cond | ((cp >= F.lit(lo)) & (cp <= F.lit(hi)))
        return cond

    d = docs.withColumn("_cps", cps).withColumn(
        "n_chars", F.length(txt).cast("long")
    )
    def counter(ranges):
        # bind via closure, NOT a defaulted lambda param — PySpark reads
        # higher-order-function lambda arity, and a second parameter
        # would be interpreted as the element-index argument
        return F.size(
            F.filter("_cps", lambda cp: in_ranges(cp, ranges))
        ).cast("long")

    for s in names:
        d = d.withColumn(s, counter(SCRIPT_RANGES[s]))
    total_tab = None
    for s in names:
        total_tab = F.col(s) if total_tab is None else total_tab + F.col(s)
    d = d.withColumn("other", (F.col("n_chars") - total_tab).cast("long"))
    best = F.greatest(*[F.col(s) for s in names])
    main = F.lit("none")
    for s in reversed(names):
        main = F.when(F.col(s) == best, F.lit(s)).otherwise(main)
    main = F.when(best == 0, F.lit("none")).otherwise(main)
    return d.select(
        "doc_id", "n_chars", *names, "other", main.alias("main_script")
    )


def hybrid_search_rrf(
    docs: DataFrame,
    embeddings: DataFrame,
    query_terms: list[str],
    query_vec_id: int,
    k: int = 10,
    k_each: int = 20,
    c: int = 60,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, rrf_score, lex_rank, vec_rank, rk) — hybrid retrieval
    by reciprocal-rank fusion (Cormack et al. 2009): the top-``k``
    documents under ``Σ_lists 1/(c + rank)`` over a BM25 lexical list
    and a cosine vector list for the same information need. This is
    the serving-side fusion every RAG/retrieval stack runs — lexical
    matching catches exact terms the embedding smooths over, the
    embedding catches paraphrases BM25 cannot see, and RRF combines
    them without score calibration (ranks only — the two scorers'
    scales never meet).

    The one-query call of :func:`hybrid_search_many` (the query vector
    is the embeddings row ``query_vec_id``), in rank order. An empty
    ``query_terms`` gives the vector-only ranking."""
    q = _one_query(docs.sparkSession, query_vec_id, query_terms)
    return (
        hybrid_search_many(
            docs, embeddings, q, k=k, k_each=k_each, c=c, text_col=text_col
        )
        .drop("query_id")
        .orderBy("rk")
    )


def hybrid_search_many(
    docs: DataFrame,
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k_each: int = 20,
    c: int = 60,
    text_col: str = "text",
) -> DataFrame:
    """(query_id, doc_id, rrf_score, lex_rank, vec_rank, rk) — the
    query-TABLE form of :func:`hybrid_search_rrf`: RRF-fused hybrid
    retrieval for a whole batch of queries at once (the serving shape —
    evaluation sets, batched API traffic). ``queries`` is (query_id,
    term) rows for the lexical side; each query's vector is the
    embeddings row whose ``vec_id`` equals its ``query_id`` (the
    aligned-id convention of the single-query form).

    Scale shape: the corpus is scanned ONCE for all lexical queries
    (:func:`bm25_search_many`) and once for all vector queries
    (broadcast query block inside ``topk_bruteforce`` — swap in an ANN
    kernel at corpus scale); the fusion joins two
    (n_queries × k_each)-row tables on (query_id, doc_id) and ranks
    per query. Missing-from-one-list docs contribute only the present
    list's reciprocal (standard RRF). The fused score rounds to 9 dp
    before ranking (cross-engine rational arithmetic); ties break on
    doc_id."""
    from . import similarity

    lex = bm25_search_many(docs, queries, k=k_each, text_col=text_col).select(
        F.col("query_id").cast("long").alias("query_id"),
        "doc_id",
        F.col("rk").alias("lex_rank"),
    )
    qids = (
        queries.select(F.col("query_id").cast("long").alias("vec_id"))
        .distinct()
    )
    vec = similarity.topk_bruteforce(embeddings, qids, k=k_each).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").alias("doc_id"),
        F.col("rk").alias("vec_rank"),
    )
    fused = lex.join(vec, ["query_id", "doc_id"], "full_outer").withColumn(
        "rrf_score",
        F.round(
            F.coalesce(1.0 / (F.lit(c) + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(c) + F.col("vec_rank")), F.lit(0.0)),
            9,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), "doc_id"
    )
    return (
        fused.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "query_id",
            "doc_id",
            "rrf_score",
            F.col("lex_rank").cast("int").alias("lex_rank"),
            F.col("vec_rank").cast("int").alias("vec_rank"),
            F.col("rk").cast("int").alias("rk"),
        )
    )


# --------------------------------------------------------------------------
# DoReMi-style domain reweighting (Xie et al. 2023, "DoReMi: Optimizing
# Data Mixtures Speeds Up Language Model Pretraining"): exponentiated-
# gradient ascent on the domain simplex, driven by per-domain EXCESS
# loss over a uniform-mixture reference. The engine's stand-in for the
# proxy-model loss is the corpus's own unigram surprisal — rare-vocab
# domains read "hard", repetitive domains read "easy" — so the whole
# computation stays inside the engine: no external trainer in the loop.
# --------------------------------------------------------------------------


def _ordered_fold(key_col: str, val_col: str):
    """Deterministic double fold of ``val_col`` in ``key_col`` order —
    the Spark form of DuckDB's ordered aggregate ``sum(x ORDER BY
    key)``; used wherever a float sum over a small keyed table must be
    bit-reproducible across engines."""
    return F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct(key_col, val_col))),
            lambda s: s[val_col],
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def domain_token_counts(
    docs: DataFrame,
    domain_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """(domain, tok, c) — per-(domain, token) counts: the MERGEABLE
    sufficient statistic of the whole DoReMi loss computation (counts
    are additive, so batch-on-union == merge-of-batch-counts — the
    property the streaming watcher rides). One corpus tokenization,
    one hash aggregation."""
    d = normalized(docs, text_col)
    toks = d.select(
        domain_col, F.explode(F.split("_norm", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    return toks.groupBy(domain_col, "tok").agg(F.count(F.lit(1)).alias("c"))


def merge_domain_token_counts(*tables: DataFrame) -> DataFrame:
    """Union + re-sum of :func:`domain_token_counts` tables — exact
    (integer adds), any grouping/merge order."""
    out = tables[0]
    for t in tables[1:]:
        out = out.unionByName(t)
    keys = out.columns[:2]
    return out.groupBy(*keys).agg(F.sum("c").alias("c"))


def domain_doc_counts(docs: DataFrame, domain_col: str = "source") -> DataFrame:
    """(domain, n_docs) — the second (tiny) mergeable statistic."""
    return docs.groupBy(domain_col).agg(F.count(F.lit(1)).alias("n_docs"))


def merge_domain_doc_counts(*tables: DataFrame) -> DataFrame:
    out = tables[0]
    for t in tables[1:]:
        out = out.unionByName(t)
    return out.groupBy(out.columns[0]).agg(F.sum("n_docs").alias("n_docs"))


def surprisal_losses_from_counts(
    dt: DataFrame, nd: DataFrame, domain_col: str = "source"
) -> DataFrame:
    """(domain, n_docs, n_tokens, loss) from PRE-AGGREGATED count
    tables (:func:`domain_token_counts` / :func:`domain_doc_counts` or
    their merges): everything here is (vocab x domains)-sized
    re-aggregation — the corpus is never touched. Cross-engine parity:
    per-token surprisal rounds to 9 dp and is fixed-pointed to 1e9
    integers, so the per-domain sums are order-independent exact
    integer arithmetic (the ``text_classifier_train`` gradient
    discipline)."""
    cnt = dt.groupBy("tok").agg(F.sum("c").alias("c"))
    tot = cnt.agg(F.sum("c").alias("n"))
    surp = cnt.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.round(F.round(F.log("n") - F.log("c"), 9) * F.lit(1e9), 0)
        .cast("long")
        .alias("sq"),
    )
    dq = dt.join(surp, "tok").groupBy(domain_col).agg(
        F.sum((F.col("c") * F.col("sq")).cast("decimal(38,0)")).alias("q"),
        F.sum("c").alias("n_tokens"),
    )
    return nd.join(dq, domain_col, "left").select(
        domain_col,
        "n_docs",
        F.coalesce("n_tokens", F.lit(0).cast("long")).alias("n_tokens"),
        F.when(F.coalesce("n_tokens", F.lit(0)) == 0, F.lit(0.0))
        .otherwise(
            F.round(
                (F.col("q").cast("double") / F.lit(1e9)) / F.col("n_tokens"),
                9,
            )
        )
        .alias("loss"),
    )


def domain_surprisal_losses(
    docs: DataFrame,
    domain_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """(domain, n_docs, n_tokens, loss) — per-domain mean per-token
    unigram surprisal ``E[ln(N) - ln(count(tok))]`` under the corpus's
    own unigram distribution: the deterministic difficulty signal the
    DoReMi step consumes.

    Scale shape: ONE corpus tokenization — the per-(domain, token)
    hash aggregation, materialized once via ``localCheckpoint`` (the
    BPE-vocab discipline; its three consumers — per-domain sums,
    global vocab counts, token total — would otherwise each re-embed
    and re-execute the corpus explode: measured 3 Generate nodes in
    the executed plan without the cut). Everything downstream
    re-aggregates that (vocab x domains)-sized table; the only other
    corpus touch is the narrow ``domain_col``-column scan for doc
    counts."""
    dt = domain_token_counts(docs, domain_col, text_col).localCheckpoint()
    nd = domain_doc_counts(docs, domain_col)
    return surprisal_losses_from_counts(dt, nd, domain_col)


def doremi_weights_from_losses(
    dom_losses: DataFrame,
    iters: int = 4,
    eta: float = 1.0,
    smoothing: float = 0.01,
    domain_col: str = "source",
) -> DataFrame:
    """The EG iteration of :func:`doremi_mixture` over an
    already-computed (domain, n_docs, n_tokens, loss) table — the
    domains-sized half the streaming watcher re-runs per epoch."""
    if iters <= 0 or eta <= 0 or not (0.0 <= smoothing < 1.0):
        raise ValueError("iters/eta positive, 0 <= smoothing < 1 required")
    dom = (
        dom_losses
        .withColumn("_xl", F.col("loss") * F.col("n_tokens"))
        .localCheckpoint()
    )
    glob = dom.agg(
        F.count(F.lit(1)).cast("double").alias("_k"),
        _ordered_fold(domain_col, "_xl").alias("_xlsum"),
        F.sum("n_tokens").alias("_nn"),
    )
    cur = (
        dom.crossJoin(F.broadcast(glob))
        .withColumn(
            "excess",
            F.round(
                F.greatest(
                    F.col("loss")
                    - F.when(F.col("_nn") == 0, F.lit(0.0)).otherwise(
                        F.round(F.col("_xlsum") / F.col("_nn"), 9)
                    ),
                    F.lit(0.0),
                ),
                9,
            ),
        )
        .withColumn("w", F.round(F.lit(1.0) / F.col("_k"), 9))
        .withColumn("ws", F.lit(0.0))
        .drop("_xl", "_xlsum", "_nn")
    )
    for _ in range(iters):
        u = cur.withColumn(
            "u",
            F.round(F.col("w") * F.exp(F.lit(eta) * F.col("excess")), 9),
        )
        z = u.agg(_ordered_fold(domain_col, "u").alias("_z"))
        cur = (
            u.crossJoin(F.broadcast(z))
            .withColumn(
                "w",
                F.round(
                    F.lit(1.0 - smoothing) * F.col("u") / F.col("_z")
                    + F.lit(smoothing) / F.col("_k"),
                    9,
                ),
            )
            .withColumn("ws", F.col("ws") + F.col("w"))
            .drop("u", "_z")
        )
    return cur.select(
        domain_col,
        "n_docs",
        "n_tokens",
        "loss",
        "excess",
        F.round(F.col("ws") / F.lit(float(iters)), 9).alias("weight"),
    )


def doremi_mixture(
    docs: DataFrame,
    iters: int = 4,
    eta: float = 1.0,
    smoothing: float = 0.01,
    domain_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """(domain, n_docs, n_tokens, loss, excess, weight) — DoReMi
    domain weights: ``iters`` exponentiated-gradient steps
    ``w ∝ w · exp(η · excess)`` on the domain simplex, each step
    smoothed toward uniform with mass ``smoothing`` (Xie et al. 2023,
    Algorithm 1), returning the across-step AVERAGE weight per domain
    (the paper's final-mixture estimator). ``excess`` is the clipped
    per-domain surplus of :func:`domain_surprisal_losses` over the
    token-weighted uniform-mixture reference loss.

    Scale shape: the corpus is touched exactly once (the loss
    aggregation), and its lineage is CUT at the domains-sized result
    (``localCheckpoint``, the engine's iterative-operator discipline —
    without the cut every EG step's self-referencing plan re-embeds
    and re-executes the corpus tokenization, 24 explodes at iters=2);
    every EG step is then arithmetic on the k-row checkpointed table
    with one-row broadcast normalizers — at any corpus size the
    iteration costs k rows × ``iters`` steps. Cross-engine parity:
    simplex normalizers fold in domain order (``sum(x ORDER BY
    domain)``), every step's weights round to 9 dp."""
    return doremi_weights_from_losses(
        domain_surprisal_losses(docs, domain_col, text_col),
        iters=iters,
        eta=eta,
        smoothing=smoothing,
        domain_col=domain_col,
    )


def doremi_sample(
    docs: DataFrame,
    total_tokens: int,
    iters: int = 4,
    eta: float = 1.0,
    smoothing: float = 0.01,
    domain_col: str = "source",
    seed: str = "doremi-v1",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, domain, n_tokens, cum_tokens, budget) — the end-to-end
    DoReMi draw: :func:`doremi_mixture` weights allocate
    ``total_tokens`` across domains (``budget = floor(weight ·
    total)``), then the same deterministic hash-ordered prefix fill as
    :func:`mix_by_temperature` selects documents. Budgets broadcast
    onto corpus rows; one window per domain does the fill."""
    if total_tokens <= 0:
        raise ValueError("total_tokens must be positive")
    budgets = doremi_mixture(
        docs, iters, eta, smoothing, domain_col, text_col
    ).select(
        domain_col,
        F.floor(F.col("weight") * F.lit(int(total_tokens)))
        .cast("long")
        .alias("budget"),
    )
    d = normalized(docs, text_col).withColumn(
        "n_tokens", F.size(F.split("_norm", " ")).cast("long")
    )
    h = F.md5(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string")))
    w = (
        Window.partitionBy(domain_col)
        .orderBy(h, F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.join(F.broadcast(budgets), domain_col)
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= F.col("budget"))
        .select(id_col, domain_col, "n_tokens", "cum_tokens", "budget")
    )


def log_odds_terms(
    docs: DataFrame,
    group_a: Column,
    alpha: float = 0.01,
    text_col: str = "text",
) -> DataFrame:
    """(tok, count_a, count_b, delta, z) — the "Fightin' Words"
    log-odds-ratio with an informative Dirichlet prior (Monroe,
    Colaresi & Quinn 2008): for every vocabulary term, how strongly it
    distinguishes the ``group_a`` slice of the corpus from the rest.
    ``delta`` is the prior-smoothed log-odds difference, ``z`` its
    standardized form (``delta / sqrt(1/(y_a+α) + 1/(y_b+α))``) — the
    published corpus-comparison statistic behind "what changed between
    crawls / what characterizes this source", more robust at the rare
    tail than raw tf-idf deltas.

    Scale shape: one corpus tokenization into a vocab-sized
    two-column count table; the three normalizers (group totals,
    vocab size) are a one-row broadcast. Output is vocab-sized.
    Cross-engine parity: counts are exact integers, ``delta`` rounds
    to 9 dp and ``z`` derives from the ROUNDED delta."""
    d = normalized(docs, text_col)
    toks = d.select(
        group_a.cast("int").alias("_a"),
        F.explode(F.split("_norm", " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    counts = toks.groupBy("tok").agg(
        F.sum("_a").alias("count_a"),
        F.sum(F.lit(1) - F.col("_a")).alias("count_b"),
    )
    g = counts.agg(
        F.sum("count_a").alias("_na"),
        F.sum("count_b").alias("_nb"),
        F.count(F.lit(1)).alias("_v"),
    )
    a = float(alpha)
    a0 = F.lit(a) * F.col("_v")
    delta = F.round(
        F.log(
            (F.col("count_a") + F.lit(a))
            / (F.col("_na") + a0 - F.col("count_a") - F.lit(a))
        )
        - F.log(
            (F.col("count_b") + F.lit(a))
            / (F.col("_nb") + a0 - F.col("count_b") - F.lit(a))
        ),
        9,
    )
    out = counts.crossJoin(F.broadcast(g)).withColumn("delta", delta)
    return out.select(
        "tok",
        "count_a",
        "count_b",
        "delta",
        F.round(
            F.col("delta")
            / F.sqrt(
                F.lit(1.0) / (F.col("count_a") + F.lit(a))
                + F.lit(1.0) / (F.col("count_b") + F.lit(a))
            ),
            9,
        ).alias("z"),
    )


def paragraph_language_profile(
    docs: DataFrame,
    para_words: int = 12,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_paragraphs, dominant_lang, dominant_frac, n_langs) —
    paragraph-level language segmentation: chunk each document into
    ``para_words``-word pseudo-paragraphs, language-ID each chunk with
    the marker heuristic, and report the per-document dominant
    language with its paragraph share. This is the CCNet recipe's
    granularity — web documents routinely mix languages (boilerplate
    in one, body in another; quoted passages), and a doc-level LID
    both mislabels them and hides that they need splitting.
    ``dominant_frac < 1`` is exactly the "route to a segmenter" flag.

    Scale shape: one narrow projection explodes each doc into
    ceil(words/``para_words``) chunk rows (output-linear in corpus
    words), one doc-keyed count aggregation, one doc-keyed window for
    the dominant pick — no joins, nothing driver-side. Ties break
    alphabetically (deterministic); ``dominant_frac`` rounds to 6 dp."""
    if para_words <= 0:
        raise ValueError("para_words must be positive")
    w = int(para_words)
    d = normalized(spread(docs, "doc_id"), text_col).withColumn(
        "_w", F.split("_norm", " ")
    )
    paras = d.select(
        "doc_id",
        "_w",
        F.explode(
            F.sequence(
                F.lit(1),
                F.ceil(F.size("_w") / F.lit(float(w))).cast("int"),
            )
        ).alias("_pi"),
    ).select(
        "doc_id",
        F.array_join(
            F.slice("_w", (F.col("_pi") - 1) * w + 1, w), " "
        ).alias("_pt"),
    )
    pl = paras.select(
        "doc_id", language_id_col(F.col("_pt")).alias("_plang")
    )
    cnt = pl.groupBy("doc_id", "_plang").agg(F.count(F.lit(1)).alias("_c"))
    wd = Window.partitionBy("doc_id")
    wr = Window.partitionBy("doc_id").orderBy(F.col("_c").desc(), "_plang")
    return (
        cnt.withColumn("_rn", F.row_number().over(wr))
        .withColumn("_nt", F.sum("_c").over(wd))
        .withColumn("_nl", F.count(F.lit(1)).over(wd))
        .filter(F.col("_rn") == 1)
        .select(
            "doc_id",
            F.col("_nt").alias("n_paragraphs"),
            F.col("_plang").alias("dominant_lang"),
            F.round(F.col("_c") / F.col("_nt"), 6).alias("dominant_frac"),
            F.col("_nl").cast("long").alias("n_langs"),
        )
    )


def split_by_language(
    docs: DataFrame,
    para_words: int = 12,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, seg_id, lang, n_paragraphs, seg_text) — split each
    document into contiguous same-language SEGMENTS: chunk into
    ``para_words``-word paragraphs, language-ID each, then merge
    adjacent same-language runs (the gaps-and-islands kernel on the
    paragraph sequence). This is the ACTION the
    :func:`paragraph_language_profile` flag routes to — a mixed
    French/English page becomes one French row and one English row,
    each feeding its own language's cleaning pipeline instead of
    polluting a single one.

    Scale shape: the same output-linear chunk explode as the profile,
    one doc-keyed window pass for run detection, one (doc, run)-keyed
    aggregation that reassembles segment text in paragraph order — no
    joins. Segment ids are 1-based in paragraph order."""
    if para_words <= 0:
        raise ValueError("para_words must be positive")
    w = int(para_words)
    d = normalized(spread(docs, "doc_id"), text_col).withColumn(
        "_w", F.split("_norm", " ")
    )
    paras = d.select(
        "doc_id",
        "_w",
        F.explode(
            F.sequence(
                F.lit(1),
                F.ceil(F.size("_w") / F.lit(float(w))).cast("int"),
            )
        ).alias("_pi"),
    ).select(
        "doc_id",
        "_pi",
        F.array_join(
            F.slice("_w", (F.col("_pi") - 1) * w + 1, w), " "
        ).alias("_pt"),
    )
    pl = paras.withColumn("_plang", language_id_col(F.col("_pt")))
    wo = Window.partitionBy("doc_id").orderBy("_pi")
    runs = pl.withColumn(
        "_chg",
        F.when(
            F.lag("_plang").over(wo).isNull()
            | (F.lag("_plang").over(wo) != F.col("_plang")),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn(
        "_run",
        F.sum("_chg").over(
            wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        runs.groupBy("doc_id", "_run")
        .agg(
            # constant within a run — min() for engine-order independence
            F.min("_plang").alias("lang"),
            F.count(F.lit(1)).alias("n_paragraphs"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pi", "_pt"))),
                    lambda s: s["_pt"],
                ),
                " ",
            ).alias("seg_text"),
        )
        .select(
            "doc_id",
            F.col("_run").cast("int").alias("seg_id"),
            "lang",
            "n_paragraphs",
            "seg_text",
        )
    )


def compression_ratios(
    docs: DataFrame,
    text_col: str = "text",
    level: int = 6,
) -> DataFrame:
    """(doc_id, n_bytes, n_compressed, compression_ratio) — the zlib
    compressibility screen (DEFLATE at ``level``): boilerplate-heavy
    or template-stamped text compresses far below prose
    (ratio ≈ 0.2–0.35 vs ≈ 0.4–0.6), and random/encoded garbage
    barely compresses at all (ratio → 1.0), so one cheap scalar flags
    BOTH failure tails that n-gram repetition and character entropy
    each only half-see. Gate low-AND-high: keep
    lo < compression_ratio < hi.

    DEFLATE is an inherently sequential bit-level format, so this is a
    documented Arrow-island boundary (``mapInPandas``, zlib's C
    implementation per batch — the multimodal codec discipline, lint-
    whitelisted), NOT a row-at-a-time Python UDF. The per-doc work is
    O(len); nothing shuffles — the plan is scan → island → rows.
    Ratio is rounded to 6 places; bytes are UTF-8."""
    import pandas as pd  # noqa: F401 — signature of the island

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    id_field = [f for f in docs.schema.fields if f.name == "doc_id"]
    if not id_field:
        raise ValueError("compression_ratios needs a doc_id column")
    out_schema = StructType(
        [
            id_field[0],
            StructField("n_bytes", LongType()),
            StructField("n_compressed", LongType()),
            StructField("compression_ratio", DoubleType()),
        ]
    )

    def island(batches):
        import zlib

        for pdf in batches:
            raw = pdf[text_col].fillna("").str.encode("utf-8")
            n_bytes = raw.str.len().astype("int64")
            n_comp = raw.map(
                lambda b: len(zlib.compress(b, level))
            ).astype("int64")
            ratio = (n_comp / n_bytes.where(n_bytes > 0)).round(6)
            out = pdf[["doc_id"]].copy()
            out["n_bytes"] = n_bytes
            out["n_compressed"] = n_comp
            out["compression_ratio"] = ratio
            yield out

    return docs.select("doc_id", text_col).mapInPandas(island, out_schema)


#: Markup patterns — Java-regex (Spark) / RE2 (DuckDB) common subset:
#: (?is)-flagged non-greedy blocks and character classes only, no
#: backreferences or lookaround (the PII_* discipline). script/style
#: bodies are CONTENT to delete, not markup to unwrap, so they go
#: first; the generic tag pattern then unwraps what remains.
MARKUP_SCRIPT_RE = r"(?is)<script[^>]*>.*?</script>"
MARKUP_STYLE_RE = r"(?is)<style[^>]*>.*?</style>"
MARKUP_COMMENT_RE = r"(?s)<!--.*?-->"
MARKUP_TAG_RE = r"(?i)</?[a-z][^>]*>"

#: entity decode order is load-bearing: &amp; decodes LAST so
#: double-encoded text ("&amp;lt;") never turns into live markup
MARKUP_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)


def strip_markup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, clean_text, n_tags) — HTML/XML markup removal for
    web-crawl corpora (the extraction step C4/CCNet assume upstream):
    script/style/comment blocks deleted wholesale, remaining tags
    unwrapped (their text kept), the six standard entities decoded
    (&amp; last, so double-encoding can't re-create markup), whitespace
    collapsed. ``n_tags`` counts the unwrapped tags (markup inside
    deleted blocks doesn't count — it was never going to contribute
    text). All JVM-side regexp/replace — no Python in the row path, no
    shuffle: a pure projection the scan absorbs."""
    t = F.col(text_col)
    deblocked = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, MARKUP_SCRIPT_RE, " "),
            MARKUP_STYLE_RE,
            " ",
        ),
        MARKUP_COMMENT_RE,
        " ",
    )
    n_tags = F.regexp_count(deblocked, F.lit(MARKUP_TAG_RE)).cast("long")
    untagged = F.regexp_replace(deblocked, MARKUP_TAG_RE, " ")
    decoded = untagged
    for ent, ch in MARKUP_ENTITIES:
        decoded = F.replace(decoded, F.lit(ent), F.lit(ch))
    clean = F.trim(F.regexp_replace(decoded, r"\s+", " "))
    return docs.select(
        "doc_id", clean.alias("clean_text"), n_tags.alias("n_tags")
    )


#: control characters (keep \t \n \r — they are whitespace, and the
#: final collapse owns them)
NORM_CONTROL_RE = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"
#: 1:1 codepoint folds: curly/low-9 quotes -> straight, en/em/figure
#: dashes -> hyphen, NBSP -> space; zero-widths/BOM appended with no
#: destination = deleted (translate drops unmapped source chars)
NORM_TRANSLATE_SRC = (
    "\u2018\u2019\u201a"  # curly/low-9 single quotes -> '
    "\u201c\u201d\u201e"  # curly/low-9 double quotes -> "
    "\u2013\u2014\u2012"  # en/em/figure dashes       -> -
    "\u00a0"              # NBSP                      -> space
    "\u200b\u200c\u200d\ufeff"  # zero-widths + BOM   -> deleted
)
NORM_TRANSLATE_DST = "'''\"\"\"--- "
#: the DST table as a ready-made SQL literal (ASCII quotes doubled)
#: so oracle SQL can inject the IDENTICAL fold table
_NORM_DST_SQL = "'" + NORM_TRANSLATE_DST.replace("'", "''") + "'"


def normalize_text(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, clean_text, n_chars_before, n_chars_after) — Unicode
    hygiene BEFORE hashing/shingling (ftfy-lite): dedup operators key
    on exact bytes, so ``“smart” quotes``, NBSP, zero-width joiners and
    stray control characters make identical prose hash differently —
    normalize first and the exact/MinHash/substring families all get
    strictly better recall. Folds: control chars stripped, curly
    quotes/dashes/NBSP folded to ASCII (1:1 codepoint ``translate``),
    zero-widths and BOM deleted, ``…`` -> ``...``, whitespace
    collapsed + trimmed. Pure JVM projection — no Python, no shuffle.
    """
    t = F.col(text_col)
    no_ctrl = F.regexp_replace(t, NORM_CONTROL_RE, "")
    folded = F.translate(
        no_ctrl, NORM_TRANSLATE_SRC, NORM_TRANSLATE_DST
    )
    dotted = F.replace(folded, F.lit("…"), F.lit("..."))
    clean = F.trim(F.regexp_replace(dotted, r"\s+", " "))
    return docs.select(
        "doc_id",
        clean.alias("clean_text"),
        F.length(t).cast("long").alias("n_chars_before"),
        F.length(clean).cast("long").alias("n_chars_after"),
    )


def sample_pps(
    docs: DataFrame,
    k: int,
    weight_col: str,
    domain_col: str = "source",
    seed: str = "pps-v1",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, domain, weight, n_picks) — deterministic SYSTEMATIC
    probability-proportional-to-size draw of ``k`` picks per domain
    ("sample documents proportional to token count"): lay every
    domain's rows on a [0, W) number line in deterministic md5 order
    (W = the domain's total weight), drop ``k`` equally-spaced pins,
    and a row is picked once per pin inside its own weight interval —
    the textbook systematic PPS design (inclusion probability
    min(1, k·w/W); a heavy row with w > W/k is picked with CERTAINTY,
    ``n_picks`` counting its multiplicity, and Σ n_picks == k exactly
    per domain).

    Everything is EXACT int64 arithmetic — weights are cast to long
    (the integer contract; scale floats upstream), the pin test is
    ``(cum·k) div W > ((cum−w)·k) div W`` with integer division — so
    re-runs, retries, and the SQL oracle agree bit-for-bit; no
    transcendental key (the exp/pow of A-ES weighted reservoirs is NOT
    cross-engine reproducible in the last ulp). int64 bound: W·k <
    2^63 per domain (a 10-billion-token domain leaves room for
    k ≤ ~1e9).

    NULL weights are excluded; zero weights are never picked (their
    interval is empty); a NEGATIVE weight would silently corrupt every
    later interval on the line, so it is refused loudly in-path (the
    raise_error-in-projection discipline). Domains with W == 0 emit no
    rows — there is nothing to draw from.

    Scale shape: one domain-keyed window pass (ordered cum-sum + the
    domain total over the same partition — one shuffle, one sort);
    per-domain data must fit a task's spill budget, the
    :func:`sample_exact_k` caveat — pre-filter heavy domains with the
    rate gate first."""
    if k < 1:
        raise ValueError(f"k must be >= 1 (got {k})")
    w = F.col(weight_col).cast("long")
    guarded_w = F.when(w >= 0, w).otherwise(
        F.raise_error(
            F.format_string(
                "sample_pps: negative weight %s — a negative interval "
                "corrupts every later pin test on the domain's number "
                "line; filter or clamp upstream.",
                w,
            )
        )
    )
    h = F.md5(F.concat(F.lit(seed + ":"), F.col("doc_id").cast("string")))
    wd = Window.partitionBy("domain")
    wo = (
        wd.orderBy(h, F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = (
        docs.filter(w.isNotNull())
        .select(
            F.col(id_col).alias("doc_id"),
            F.col(domain_col).alias("domain"),
            guarded_w.alias("_w"),
        )
        .withColumn("_cum", F.sum("_w").over(wo))
        .withColumn("_tot", F.sum("_w").over(wd))
    )
    picks = F.expr(f"(_cum * {k}) div _tot - ((_cum - _w) * {k}) div _tot")
    return (
        staged.filter(F.col("_tot") > 0)
        .select(
            "doc_id",
            "domain",
            F.col("_w").alias("weight"),
            picks.cast("long").alias("n_picks"),
        )
        .filter(F.col("n_picks") >= 1)
    )


def apportion_budget(
    weights: DataFrame,
    k: int,
    domain_col: str = "source",
    weight_col: str = "weight",
) -> DataFrame:
    """(domain, weight, quota) — LARGEST-REMAINDER (Hamilton)
    apportionment of an integer budget ``k`` across domains
    proportional to integer weights: the planner step that turns
    mixture weights into actual per-domain document/token quotas
    ("10 000 docs split 3:2:1") with Σ quota == k EXACTLY — naive
    rounding of k·w/W drifts by up to |domains|/2. quota_i =
    floor(k·w_i/W) plus one for the (k − Σ floors) LARGEST remainders
    (k·w_i mod W), remainder ties breaking to the smaller domain —
    fully deterministic, and a zero remainder never receives a +1
    (Σ remainders = W·(k − Σ floors) with each remainder < W, so the
    top-up count never reaches the zero-remainder rows; pinned).

    Everything is exact int64 (k·w_i < 2^63 — a 10-billion-token
    domain leaves room for k ≤ ~1e9); NULL weights are excluded, a
    negative weight is refused loudly in-path, W == 0 yields every
    quota 0 (an all-zero weight table buys nothing).

    Scale shape: the weights table is DOMAIN-sized (the tiny output
    of a per-domain rollup, never a corpus) — one global-window rank
    over |domains| rows is the honest plan; composing with
    :func:`sample_exact_k` (quota as per-domain k) or
    :func:`mix_by_budget` turns the quotas into a drawn corpus."""
    if k < 0:
        raise ValueError(f"k must be >= 0 (got {k})")
    w = F.col(weight_col).cast("long")
    guarded_w = F.when(w >= 0, w).otherwise(
        F.raise_error(
            F.format_string(
                "apportion_budget: negative weight %s — proportional "
                "shares of a negative weight are undefined; filter or "
                "clamp upstream.",
                w,
            )
        )
    )
    staged = (
        weights.filter(w.isNotNull())
        .select(
            F.col(domain_col).alias("domain"),
            guarded_w.alias("weight"),
        )
        .withColumn("_tot", F.sum("weight").over(Window.partitionBy()))
    )
    base = staged.select(
        "domain",
        "weight",
        F.when(
            F.col("_tot") > 0,
            F.expr(f"(weight * {int(k)}) div _tot"),
        )
        .otherwise(F.lit(0))
        .alias("_floor"),
        F.when(
            F.col("_tot") > 0,
            (F.col("weight") * F.lit(int(k))) % F.col("_tot"),
        )
        .otherwise(F.lit(0))
        .alias("_rem"),
    )
    wr = Window.orderBy(F.desc("_rem"), F.asc("domain"))
    wall = Window.partitionBy()
    return (
        base.withColumn("_rk", F.row_number().over(wr))
        .withColumn("_short", F.lit(int(k)) - F.sum("_floor").over(wall))
        .select(
            "domain",
            "weight",
            (
                F.col("_floor")
                + F.when(
                    (F.col("_rk") <= F.col("_short"))
                    & (F.col("_rem") > 0),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).cast("long").alias("quota"),
        )
    )


def sample_stratified(
    docs: DataFrame,
    k: int,
    domain_col: str = "source",
    weight_col: str | None = None,
    seed: str = "strat-v1",
    id_col: str = "doc_id",
) -> DataFrame:
    """Proportional stratified sample: ONE total budget ``k``
    apportioned across domains by Hamilton largest-remainder
    (:func:`apportion_budget` — Σ quota == k exactly, where naive
    per-domain rounding drifts), then exactly ``min(quota, |domain|)``
    rows drawn per domain in the :func:`sample_exact_k` deterministic
    md5 rank order — "give me 100k docs, split like the corpus's
    token mass" as ONE composed DAG. ``weight_col=None`` weights
    domains by row count; otherwise by the integer weight sum
    (token/char counts). Domains whose weights are all NULL receive
    no quota and emit nothing (inner join on the quota table —
    documented).

    Exactness: the quota arithmetic is apportion_budget's exact int64
    path; the draw is the md5 rank — no rand(), no FP anywhere, so
    re-runs, retries and the SQL oracle pick identical rows.

    Scale shape: one domain-keyed rollup (map-side combinable) feeds
    the DOMAIN-sized apportionment table (its global rank window is
    the honest bounded plan); quotas broadcast back onto the corpus;
    one domain-partitioned rank window draws the sample — the
    sample_exact_k spill caveat applies to the largest domain."""
    w = (
        F.lit(1).cast("long")
        if weight_col is None
        else F.col(weight_col).cast("long")
    )
    weights = (
        docs.filter(w.isNotNull())
        .groupBy(F.col(domain_col).alias("domain"))
        .agg(F.sum(w).alias("weight"))
    )
    quotas = apportion_budget(
        weights, k, domain_col="domain", weight_col="weight"
    )
    h = F.md5(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string")))
    wd = Window.partitionBy(domain_col).orderBy(h, F.col(id_col))
    # fresh name on the quota side ("domain") vs the doc side
    # (domain_col): both derive from `docs`, and same-name refs across
    # a self-derived join resolve to ONE attribute (the
    # trivially-true-predicate trap)
    return (
        docs.withColumn("_rk", F.row_number().over(wd))
        .join(
            F.broadcast(quotas.select("domain", "quota")),
            F.col(domain_col) == F.col("domain"),
        )
        .filter(F.col("_rk") <= F.col("quota"))
        .drop("_rk", "domain", "quota")
    )
