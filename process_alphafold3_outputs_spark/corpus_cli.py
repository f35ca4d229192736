"""Corpus-curation CLI — the training-data side of the engine, driveable
end-to-end like the AF3 screen CLI (``__main__``/``cli.py``):

    python -m process_alphafold3_outputs_spark.corpus_cli <command> ...

Commands (each reads parquet, writes parquet, prints ONE JSON summary
line to stdout):

  stats          per-source corpus profile (text.corpus_stats)
  quality        Gopher rule signals + keep flag (text.gopher_quality)
  clean          the four-gate cleaning pipeline (plans.corpus.clean_corpus)
  curate         boilerplate strip -> bigram fluency gate -> exact dedup
                 of the cleaned text (plans.corpus.curate_corpus)
  training       full clean → chunk → split DAG (corpus_to_training)
  pack           clean → chunk → split → fixed-token packing
  dedup          exact | paragraphs | minhash | simhash | clusters |
                 substrings | containment | editdist (lossless q-gram
                 Levenshtein similarity join, dedup.edit_distance_pairs)
  decontaminate  n-gram screen vs a benchmark set (--bloom for the
                 fixed-size-bitmap scale path)
  kmeans         deterministic Lloyd clustering of an embeddings table
  semdedup       SemDeDup semantic dedup over embeddings (cluster-bounded
                 cosine pruning)
  perplexity     corpus-self-trained bigram-LM fluency scores
                 (text.bigram_lm_scores)
  interleave     weight-proportional training order written as ordered
                 shards (text.interleave_sources + layout.write_ordered_shards)
  classify       hashing-trick linear quality scoring (text.classifier_score)
  mix            per-source token-budget mixture draw (text.mix_by_budget)
  dedup-incremental  shipment-over-history exact dedup (needs --hashes; also
                 writes the rolled-forward hash table to <out>_hashes)
  entities       fuzzy entity resolution over any (id, name) table
                 (operators.entity.resolve_entities)
  train-bpe      distributed BPE tokenizer training -> merge table
                 (operators.bpe.train_bpe)
  ann-index      build an IVF inverted index (+ <out>_centroids) from an
                 embeddings table
  ann-query      multi-probe top-k search of a prebuilt IVF index
  media-stats    JVM-only multimodal format census (plans.media)
  media-curate   per-modality near-dedup of a media table: perceptual
                 images, spectral audio, exact everything-else
  script-profile unicode-script histogram per document (text.script_profile)
  diff           crawl-to-crawl change report vs --old (corpus_diff)
  search         hybrid BM25 + vector retrieval fused by RRF
                 (text.hybrid_search_rrf)
  mix-doremi     DoReMi EG domain weights; --total-tokens draws documents
                 to the learned budgets (text.doremi_mixture/_sample)
  mix-unimax     UniMax waterfilled per-source allocation under an epoch
                 cap; --draw emits the training multiset
                 (text.unimax_allocation/_draw)
  compare        Fightin'-Words log-odds of a lang/source slice vs the
                 rest (text.log_odds_terms)
  langs          paragraph-level language profile; --split emits
                 same-language segments (text.paragraph_language_profile /
                 split_by_language)
  expect         Deequ-style constraint report over ANY parquet table
                 (operators.expect.check_expectations); --infer emits
                 a PROPOSED suite learned from the table itself
                 (expect.infer_expectations — persist, then gate)
  privacy        k-anonymity / l-diversity violations or the one-row
                 re-identification risk report over ANY parquet table
                 (operators.privacy)
  join-size      pre-flight equi-join cardinality estimate by CMS inner
                 product (sketches.cms_join_size)
  skew           pre-flight hot-key diagnostic for a planned groupBy/
                 join: top keys, imbalance, recommended salt factor
                 (util.skew_report)
  vocab-overlap  crawl-vs-crawl distinct-vocabulary overlap by HLL
                 inclusion-exclusion (sketches.hll_overlap)
  resample       time-bucket downsample of any (key, ts, value) table:
                 gapfilled locf/linear/zero series or --ohlc bars
                 (operators.temporal)
  normalize      pre-hash Unicode canonicalization (quotes/dashes/NBSP/
                 zero-width folds); --markup strips HTML first
                 (text.normalize_text / strip_markup)
  monitor        time-axis monitoring over any (key, ts, value) table:
                 --stat rate (counter resets) | zscore (prior-window
                 level shifts) | seasonal (phase-of-period deviation)
                 (operators.temporal)

The ``profile`` command also runs structural discovery: ``--keys``
(candidate-key uniqueness for columns and pairs, one aggregation) and
``--fk COL:PARQUET:PARENT_COL`` (inclusion-dependency containment);
``--top-k K --timeline TS_COL`` emits per-time-bucket heavy hitters
(profiling.top_values_timeline — WHEN did the category mix shift).

Every command is a thin shell over the library operators — no query
logic lives here, so CLI behavior cannot drift from the tested kernels.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import dedup, similarity, text
from .plans import corpus as corpus_plans
from .session import get_spark


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="process_alphafold3_outputs_spark.corpus_cli",
        description="Large-scale corpus curation: profiling, quality "
        "gating, dedup, decontamination, chunk/pack, clustering.",
    )
    sub = p.add_subparsers(dest="command", required=True)

    def common(sp, embeddings: bool = False):
        sp.add_argument(
            "--embeddings" if embeddings else "--documents",
            required=True,
            help="input parquet path",
        )
        sp.add_argument("--out", required=True, help="output parquet path")

    common(sub.add_parser("stats"))
    common(sub.add_parser("quality"))

    sp = sub.add_parser("clean")
    common(sp)
    sp.add_argument("--lang", default="en")
    sp.add_argument("--min-words", type=int, default=5)
    sp.add_argument("--max-words", type=int, default=10_000)
    sp.add_argument("--jaccard-threshold", type=float, default=0.8)
    sp.add_argument(
        "--near-dedup",
        choices=["auto", "greedy", "clusters", "minhash_bands", "containment"],
        default="auto",
        help="auto: probe duplicate density and pick bands vs pairs; "
        "greedy/clusters: exact-Jaccard pair forms; minhash_bands: "
        "linear-output banded drop (the duplicate-heavy-corpus path); "
        "containment: overlap-coefficient drop of subset duplicates",
    )

    sp = sub.add_parser("curate")
    common(sp)
    sp.add_argument("--seg-words", type=int, default=8)
    sp.add_argument("--min-df", type=int, default=2)
    sp.add_argument("--max-avg-nll", type=float, default=3.5)

    sp = sub.add_parser("training")
    common(sp)
    sp.add_argument("--lang", default="en")
    sp.add_argument("--chunk-tokens", type=int, default=128)
    sp.add_argument("--overlap", type=int, default=16)
    sp.add_argument("--val-pct", type=int, default=10)

    sp = sub.add_parser("pack")
    common(sp)
    sp.add_argument("--lang", default="en")
    sp.add_argument("--chunk-tokens", type=int, default=128)
    sp.add_argument("--overlap", type=int, default=16)
    sp.add_argument("--val-pct", type=int, default=10)
    sp.add_argument("--seq-tokens", type=int, default=2048)
    sp.add_argument(
        "--policy", choices=["headtail", "bfd"], default="headtail",
        help="headtail: chunks straddle sequence boundaries (100%% fill); "
        "bfd: best-fit-decreasing, no straddling (masking-free)",
    )

    sp = sub.add_parser("dedup")
    common(sp)
    sp.add_argument(
        "--mode",
        choices=["exact", "paragraphs", "boilerplate", "minhash", "simhash",
                 "clusters", "substrings", "containment", "editdist"],
        default="exact",
    )
    sp.add_argument("--seg-words", type=int, default=20)
    sp.add_argument("--jaccard-threshold", type=float, default=0.5)
    sp.add_argument(
        "--min-words", type=int, default=20,
        help="substrings mode: gram length — duplicated runs of at "
        "least this many words are cut (Lee et al. 2022)",
    )
    sp.add_argument(
        "--containment-threshold", type=float, default=0.9,
        help="containment mode: drop threshold on |A∩B|/|A| — the "
        "asymmetric subset-duplication screen",
    )
    sp.add_argument(
        "--max-dist", type=int, default=12,
        help="editdist mode: Levenshtein radius of the lossless "
        "q-gram similarity join",
    )
    sp.add_argument(
        "--prefix-chars", type=int, default=60,
        help="editdist mode: fixed text prefix length compared "
        "(equal lengths tighten the q-gram count bound; must be "
        ">= 3*(max_dist+1))",
    )

    sp = sub.add_parser("script-profile")
    common(sp)

    sp = sub.add_parser("diff")
    common(sp)
    sp.add_argument("--old", required=True,
                    help="previous drop's documents parquet")

    sp = sub.add_parser("search")
    common(sp)
    sp.add_argument("--embeddings", required=True,
                    help="embeddings parquet path (vector side)")
    sp.add_argument("--terms", required=True,
                    help="comma-separated lexical query terms")
    sp.add_argument("--query-vec-id", type=int, required=True)
    sp.add_argument("-k", type=int, default=10)
    sp.add_argument("--k-each", type=int, default=20)
    sp.add_argument("--rrf-c", type=int, default=60)

    sp = sub.add_parser("decontaminate")
    common(sp)
    sp.add_argument("--benchmark", required=True, help="benchmark parquet path")
    sp.add_argument("--bloom", action="store_true")
    sp.add_argument("--m-bits", type=int, default=1 << 20)
    sp.add_argument("--k-hashes", type=int, default=4)
    sp.add_argument("--shingle-k", type=int, default=3)

    sp = sub.add_parser("kmeans")
    common(sp, embeddings=True)
    sp.add_argument("-k", "--clusters", type=int, default=8)
    sp.add_argument("--iters", type=int, default=2)
    sp.add_argument("--train-sample-mod", type=int, default=1)

    sp = sub.add_parser("semdedup")
    common(sp, embeddings=True)
    sp.add_argument("-k", "--clusters", type=int, default=8)
    sp.add_argument("--iters", type=int, default=2)
    sp.add_argument("--eps", type=float, default=0.7)

    sp = sub.add_parser("perplexity")
    common(sp)
    sp.add_argument("--alpha", type=float, default=0.5)

    sp = sub.add_parser("interleave")
    common(sp)
    sp.add_argument(
        "--weight", action="append", default=[], metavar="SOURCE=W",
        help="repeatable per-source weight, e.g. --weight web=4 (default 1)",
    )
    sp.add_argument("--shards", type=int, default=32)

    sp = sub.add_parser("classify")
    common(sp)
    sp.add_argument("--dim", type=int, default=64)
    sp.add_argument("--threshold", type=float, default=0.5)
    sp.add_argument(
        "--weights", help="optional parquet of (bucket, weight) trained "
        "weights (bucket -1 = bias, as train-classifier writes); "
        "md5-derived demo table when omitted"
    )

    sp = sub.add_parser("train-classifier")
    common(sp)
    sp.add_argument(
        "--positive-sources", required=True,
        help="comma-separated source values labeled positive "
        "(the trusted-seed-set recipe)",
    )
    sp.add_argument("--dim", type=int, default=64)
    sp.add_argument("--iters", type=int, default=4)
    sp.add_argument("--lr", type=float, default=1.0)

    sp = sub.add_parser("audit")
    common(sp)
    sp.add_argument("--lang", default="en")
    sp.add_argument("--min-words", type=int, default=5)
    sp.add_argument("--max-words", type=int, default=10_000)
    sp.add_argument("--jaccard-threshold", type=float, default=0.8)

    sp = sub.add_parser("c4")
    common(sp)
    sp.add_argument("--min-line-words", type=int, default=5)
    sp.add_argument("--min-sentences", type=int, default=3)

    sp = sub.add_parser("ccnet")
    common(sp)
    sp.add_argument("--alpha", type=float, default=0.5)

    sp = sub.add_parser("epochs")
    common(sp)
    sp.add_argument(
        "--factor",
        action="append",
        required=True,
        metavar="SOURCE=EPOCHS",
        help="repeatable per-source epoch factor, e.g. --factor wiki=2.5",
    )
    sp.add_argument("--seed", default="epoch-v1")

    sp = sub.add_parser("report-tokens")
    common(sp)
    sp.add_argument(
        "--factor",
        action="append",
        required=True,
        metavar="SOURCE=EPOCHS",
        help="repeatable per-source epoch factor for the train column",
    )
    sp.add_argument("--lang", default="en")
    sp.add_argument("--min-words", type=int, default=5)
    sp.add_argument("--max-words", type=int, default=10_000)
    sp.add_argument("--jaccard-threshold", type=float, default=0.8)
    sp.add_argument("--seed", default="epoch-v1")

    sp = sub.add_parser("mix")
    common(sp)
    sp.add_argument(
        "--budget",
        action="append",
        required=True,
        metavar="SOURCE=TOKENS",
        help="repeatable per-source token budget, e.g. --budget web=4000000",
    )

    sp = sub.add_parser("mix-unimax")
    common(sp)
    sp.add_argument("--total-tokens", type=int, required=True)
    sp.add_argument("--max-epochs", type=float, default=4.0)
    sp.add_argument("--draw", action="store_true",
                    help="emit the (doc_id, source, copy_idx) training "
                    "multiset instead of the per-source allocation")

    sp = sub.add_parser("mix-doremi")
    common(sp)
    sp.add_argument("--total-tokens", type=int, default=None,
                    help="draw documents to this budget; omit to emit "
                    "the per-domain weight table only")
    sp.add_argument("--iters", type=int, default=4)
    sp.add_argument("--eta", type=float, default=1.0)
    sp.add_argument("--smoothing", type=float, default=0.01)

    sp = sub.add_parser("compare")
    common(sp)
    sp.add_argument("--group-lang", default=None,
                    help="group A = docs with this lang (vs the rest)")
    sp.add_argument("--group-source", default=None,
                    help="group A = docs from this source (vs the rest)")
    sp.add_argument("--alpha", type=float, default=0.01)

    sp = sub.add_parser("langs")
    common(sp)
    sp.add_argument("--para-words", type=int, default=12)
    sp.add_argument("--split", action="store_true",
                    help="emit same-language segments instead of the "
                    "per-document dominant-language profile")

    sp = sub.add_parser("expect")
    sp.add_argument("--input", required=True,
                    help="any parquet table to validate")
    sp.add_argument("--out", required=True)
    sp.add_argument("--not-null", action="append", default=[],
                    metavar="COL")
    sp.add_argument("--unique", action="append", default=[], metavar="COL")
    sp.add_argument("--range", action="append", default=[],
                    metavar="COL:MIN:MAX", dest="range_rules")
    sp.add_argument("--in-set", action="append", default=[],
                    metavar="COL:V1,V2,...", dest="inset_rules")
    sp.add_argument("--regex", action="append", default=[],
                    metavar="COL:PATTERN", dest="regex_rules")
    sp.add_argument("--predicate", action="append", default=[],
                    metavar="LABEL:SQL", dest="predicate_rules",
                    help="free-form boolean SQL constraint (may "
                    "reference several columns); false-or-NULL rows "
                    "count as violations")
    sp.add_argument("--freshness", action="append", default=[],
                    metavar="COL:MAX_AGE_S:AS_OF_EPOCH",
                    dest="freshness_rules",
                    help="rows whose COL is older than AS_OF - MAX_AGE "
                    "are violations (as_of is explicit — the caller "
                    "owns 'now')")
    sp.add_argument("--infer", action="store_true",
                    help="emit a PROPOSED suite inferred from the "
                    "table itself (not_null/unique/range/in_set) "
                    "instead of checking rules — persist it, then "
                    "gate later drops against it")
    sp.add_argument("--infer-col", action="append", default=None,
                    metavar="COL", help="with --infer: limit "
                    "inference to these columns")
    sp.add_argument("--max-set-values", type=int, default=20,
                    help="with --infer: in_set proposed only up to "
                    "this cardinality")

    sp = sub.add_parser("profile")
    sp.add_argument("--input", required=True,
                    help="any parquet table to profile")
    sp.add_argument("--out", required=True)
    sp.add_argument("--col", action="append", default=None,
                    metavar="COL", help="limit to these columns "
                    "(repeat per column; default: all)")
    sp.add_argument("--top-k", type=int, default=None, metavar="K",
                    help="emit per-column top-K heavy hitters instead "
                    "of the stats profile")
    sp.add_argument("--approx", action="store_true",
                    help="HLL++ distinct counts (the wide-fact-table "
                    "scale form)")
    sp.add_argument("--compare", default=None, metavar="PARQUET",
                    help="diff the profile against this CURRENT "
                    "snapshot (schema adds/removes/retypes, null-rate "
                    "and distinct-count drift)")
    sp.add_argument("--numeric", action="store_true",
                    help="fused exact quartiles + mean for the given "
                    "--col list (requires --col)")
    sp.add_argument("--keys", action="store_true",
                    help="candidate-key discovery: uniqueness of every "
                    "--col (or all columns) and their pairs in ONE "
                    "aggregation")
    sp.add_argument("--max-arity", type=int, default=2,
                    help="with --keys: 1 = single columns only, "
                    "2 = also pairs (default)")
    sp.add_argument("--fk", action="append", default=[],
                    metavar="COL:PARQUET:PARENT_COL", dest="fk_rules",
                    help="foreign-key containment of --input's COL in "
                    "PARQUET's PARENT_COL (repeatable; one report row "
                    "each)")
    sp.add_argument("--corr", action="store_true",
                    help="fused Pearson correlation matrix over the "
                    "--col list (pairwise-complete NULLs; one "
                    "aggregation)")
    sp.add_argument("--timeline", default=None, metavar="TS_COL",
                    help="with --top-k: per-time-bucket heavy hitters "
                    "(WHEN did the category mix shift); TS_COL is "
                    "epoch seconds or a timestamp column")
    sp.add_argument("--width", type=int, default=86400,
                    help="with --timeline: bucket width in seconds "
                    "(default 1 day)")

    sp = sub.add_parser("normalize")
    sp.add_argument("--documents", required=True)
    sp.add_argument("--out", required=True)
    sp.add_argument("--markup", action="store_true",
                    help="strip HTML/XML markup (script/style blocks "
                    "deleted, tags unwrapped, entities decoded) BEFORE "
                    "the Unicode fold")

    sp = sub.add_parser("resample")
    sp.add_argument("--input", required=True,
                    help="any parquet table with a time column")
    sp.add_argument("--out", required=True)
    sp.add_argument("--key", action="append", default=[],
                    metavar="COL", help="series key column (repeat)")
    sp.add_argument("--ts-col", required=True)
    sp.add_argument("--value-col", required=True)
    sp.add_argument("--width", type=int, required=True,
                    help="bucket width in seconds")
    sp.add_argument("--agg", default="avg",
                    choices=["avg", "sum", "min", "max", "count"])
    sp.add_argument("--fill", default="locf",
                    choices=["none", "zero", "locf", "linear"])
    sp.add_argument("--ohlc", action="store_true",
                    help="open/high/low/close downsample instead of "
                    "gapfill (no spine; --seq-col breaks ts ties)")
    sp.add_argument("--seq-col", default=None)
    sp.add_argument("--max-buckets", type=int, default=1_000_000)

    sp = sub.add_parser("monitor")
    sp.add_argument("--input", required=True,
                    help="any parquet table with a time column")
    sp.add_argument("--out", required=True)
    sp.add_argument("--key", action="append", default=[],
                    metavar="COL", help="series key column (repeat)")
    sp.add_argument("--ts-col", required=True)
    sp.add_argument("--value-col", required=True)
    sp.add_argument("--seq-col", default=None,
                    help="timestamp tiebreak column (required for "
                    "rate/zscore)")
    sp.add_argument("--stat", default="rate",
                    choices=["rate", "zscore", "seasonal"])
    sp.add_argument("--counter", action="store_true",
                    help="rate: Prometheus counter-reset semantics")
    sp.add_argument("--window", type=int, default=24,
                    help="zscore: prior observations per baseline")
    sp.add_argument("--min-obs", type=int, default=6)
    sp.add_argument("--period", type=int, default=86400,
                    help="seasonal: cycle length in seconds")
    sp.add_argument("--phases", type=int, default=24,
                    help="seasonal: buckets per cycle")

    sp = sub.add_parser("trend")
    sp.add_argument("--input", required=True,
                    help="any parquet table with a time column")
    sp.add_argument("--out", required=True)
    sp.add_argument("--key", action="append", default=[],
                    metavar="COL", help="series key column (repeat)")
    sp.add_argument("--ts-col", required=True)
    sp.add_argument("--width", type=int, default=86400,
                    help="count-bucket width in seconds")
    sp.add_argument("--stat", default="ols",
                    choices=["ols", "theil-sen", "mann-kendall",
                             "changepoint"],
                    help="how steep (ols), robustly (theil-sen), is "
                    "it real (mann-kendall), where did it shift "
                    "(changepoint)")
    sp.add_argument("--max-points", type=int, default=2_000,
                    help="theil-sen: per-key C(n,2) fan-out cap")

    sp = sub.add_parser("kappa")
    sp.add_argument("--input", required=True,
                    help="any parquet table with two label columns")
    sp.add_argument("--out", required=True)
    sp.add_argument("--col-a", required=True)
    sp.add_argument("--col-b", required=True)

    sp = sub.add_parser("fleiss")
    sp.add_argument("--input", required=True,
                    help="ratings parquet, one row per (item, rating)")
    sp.add_argument("--out", required=True)
    sp.add_argument("--item-col", required=True)
    sp.add_argument("--label-col", required=True)

    sp = sub.add_parser("cramers-v")
    sp.add_argument("--input", required=True,
                    help="any parquet table with two categorical columns")
    sp.add_argument("--out", required=True)
    sp.add_argument("--col-a", required=True)
    sp.add_argument("--col-b", required=True)
    sp.add_argument("--max-cells", type=int, default=1_000_000)

    sp = sub.add_parser("calibration")
    sp.add_argument("--input", required=True,
                    help="parquet with a probability and a 0/1 label")
    sp.add_argument("--out", required=True)
    sp.add_argument("--score-col", required=True)
    sp.add_argument("--label-col", required=True)
    sp.add_argument("--n-bins", type=int, default=10)
    sp.add_argument("--bins", action="store_true",
                    help="emit the per-bin reliability table instead "
                    "of the one-row ECE/MCE/Brier summary")

    sp = sub.add_parser("cluster-eval")
    sp.add_argument("--input", required=True,
                    help="parquet with predicted + truth cluster labels")
    sp.add_argument("--out", required=True)
    sp.add_argument("--pred-col", required=True)
    sp.add_argument("--truth-col", required=True)

    sp = sub.add_parser("conversion-lag")
    sp.add_argument("--input", required=True, help="events parquet")
    sp.add_argument("--out", required=True)
    sp.add_argument("--user-col", default="user_id")
    sp.add_argument("--type-col", default="event_type")
    sp.add_argument("--ts-col", default="ts")
    sp.add_argument("--touch", action="append", required=True,
                    metavar="TYPE", help="touch event type (repeat)")
    sp.add_argument("--conversion", required=True)
    sp.add_argument("--lookback-s", type=int, default=86_400)

    sp = sub.add_parser("freshness")
    sp.add_argument("--input", required=True, help="events parquet")
    sp.add_argument("--out", required=True)
    sp.add_argument("--key", action="append", required=True,
                    metavar="COL", help="freshness key column (repeat)")
    sp.add_argument("--ts-col", default="ts")
    sp.add_argument("--as-of", type=int, default=None,
                    help="epoch-seconds watermark (default: derived "
                    "from the data's own max)")

    sp = sub.add_parser("theils-u")
    sp.add_argument("--input", required=True,
                    help="any parquet table with two categorical columns")
    sp.add_argument("--out", required=True)
    sp.add_argument("--col-a", required=True)
    sp.add_argument("--col-b", required=True)

    sp = sub.add_parser("benford")
    sp.add_argument("--input", required=True,
                    help="any parquet table with an integer column")
    sp.add_argument("--out", required=True)
    sp.add_argument("--col", required=True)

    sp = sub.add_parser("survival")
    sp.add_argument("--input", required=True, help="events parquet")
    sp.add_argument("--out", required=True)
    sp.add_argument("--user-col", default="user_id")
    sp.add_argument("--ts-col", default="ts")
    sp.add_argument("--bucket-s", type=int, required=True,
                    help="lifetime bucket width, seconds")
    sp.add_argument("--censor-margin-s", type=int, default=0,
                    help="censor users whose last event is within "
                    "this margin of the watermark (negative: no "
                    "censoring)")

    sp = sub.add_parser("sample-stratified")
    common(sp)
    sp.add_argument("--k", type=int, required=True,
                    help="TOTAL budget, Hamilton-apportioned across "
                    "domains")
    sp.add_argument("--weight-col", default=None,
                    help="integer weight column (default: row counts)")
    sp.add_argument("--domain-col", default="source")
    sp.add_argument("--seed", default="strat-v1")

    sp = sub.add_parser("sample-pps")
    common(sp)
    sp.add_argument("--k", type=int, required=True,
                    help="picks per domain")
    sp.add_argument("--weight-col", default="n_chars")
    sp.add_argument("--domain-col", default="source")
    sp.add_argument("--seed", default="pps-v1")

    sp = sub.add_parser("top-paths")
    sp.add_argument("--input", required=True,
                    help="events parquet")
    sp.add_argument("--out", required=True)
    sp.add_argument("--user-col", default="user_id")
    sp.add_argument("--type-col", default="event_type")
    sp.add_argument("--ts-col", default="ts")
    sp.add_argument("--seq-col", default="event_id",
                    help="timestamp tiebreak column")
    sp.add_argument("--n-steps", type=int, default=5)
    sp.add_argument("-k", type=int, default=10)

    sp = sub.add_parser("cluster-split")
    common(sp)
    sp.add_argument("--val-pct", type=int, default=10)
    sp.add_argument("--seed", default="split-v1")
    sp.add_argument("--threshold", type=float, default=0.5,
                    help="Jaccard threshold for the near-dup edge set")

    sp = sub.add_parser("privacy")
    sp.add_argument("--input", required=True,
                    help="any parquet table to audit")
    sp.add_argument("--out", required=True)
    sp.add_argument("--quasi", action="append", required=True,
                    metavar="COL", help="quasi-identifier column "
                    "(repeat per column)")
    sp.add_argument("--k", type=int, default=5)
    sp.add_argument("--sensitive", default=None,
                    help="also report groups not --l-diverse in this "
                    "column")
    sp.add_argument("--l", type=int, default=2, dest="l_div")
    sp.add_argument("--report", action="store_true",
                    help="emit the one-row risk report instead of the "
                    "violating groups")
    sp.add_argument("--t-close", type=float, default=None, dest="t_close",
                    metavar="T", help="with --sensitive: flag groups "
                    "whose ordered sensitive distribution drifts > T "
                    "from the global one (t-closeness EMD)")

    sp = sub.add_parser("skew")
    sp.add_argument("--input", required=True,
                    help="any parquet table to diagnose")
    sp.add_argument("--out", required=True)
    sp.add_argument("--key", action="append", required=True,
                    metavar="COL", help="grouping/join key column "
                    "(repeat per column)")
    sp.add_argument("--top-k", type=int, default=10)
    sp.add_argument("--partitions", type=int, default=32,
                    help="target shuffle partition count the salt "
                    "recommendation is sized for")

    sp = sub.add_parser("drift")
    sp.add_argument("--ref", required=True,
                    help="reference snapshot parquet")
    sp.add_argument("--cur", required=True,
                    help="current snapshot parquet")
    sp.add_argument("--col", action="append", required=True,
                    metavar="COL",
                    help="column to compare across snapshots; repeat "
                    "with --stat psi/chi2 for the fused one-scan "
                    "multi-column report")
    sp.add_argument("--stat", choices=["psi", "ks", "chi2", "js"],
                    default="psi")
    sp.add_argument("--bins", type=int, default=10,
                    help="psi/js only: reference-range bin count")
    sp.add_argument("--band-width", type=float, default=None,
                    help="ks only: floor-band both sides by this width "
                    "before the exact statistic (the high-cardinality "
                    "path the exact form's guard points at)")
    sp.add_argument("--timeline", type=int, default=None,
                    metavar="WIDTH_S",
                    help="psi only: per-time-bucket PSI of --cur "
                    "against the frozen reference bins (needs "
                    "--ts-col); localizes WHEN the drift started")
    sp.add_argument("--ts-col", default=None,
                    help="with --timeline: --cur's time column")
    sp.add_argument("--out", required=True)

    sp = sub.add_parser("rank-eval")
    sp.add_argument("--hits", required=True,
                    help="retrieval run parquet: query/doc/rank columns")
    sp.add_argument("--qrels", required=True,
                    help="graded judgments parquet: query/doc/rel")
    sp.add_argument("-k", type=int, default=10)
    sp.add_argument("--query-col", default="query_id")
    sp.add_argument("--doc-col", default="doc_id")
    sp.add_argument("--rank-col", default="rank")
    sp.add_argument("--rel-col", default="rel")
    sp.add_argument("--summary", action="store_true",
                    help="emit the one-row macro-average instead of "
                    "per-query metrics")
    sp.add_argument("--out", required=True)

    sp = sub.add_parser("merge")
    sp.add_argument("--target", required=True,
                    help="current table parquet")
    sp.add_argument("--updates", required=True,
                    help="key-unique update batch parquet (the target's "
                    "columns, plus an optional boolean delete flag)")
    sp.add_argument("--key", action="append", required=True,
                    metavar="COL", help="merge key column (repeat)")
    sp.add_argument("--delete-col", default=None,
                    help="boolean column on --updates: true rows "
                    "tombstone their key")
    sp.add_argument("--out", required=True)

    sp = sub.add_parser("cdc-apply")
    sp.add_argument("--snapshot", required=True,
                    help="table snapshot parquet")
    sp.add_argument("--changes", required=True,
                    help="change rows: table columns + --seq-col + "
                    "--op-col (I/U/D)")
    sp.add_argument("--key", action="append", required=True,
                    metavar="COL")
    sp.add_argument("--seq-col", default="seq")
    sp.add_argument("--op-col", default="op")
    sp.add_argument("--out", required=True)

    sp = sub.add_parser("scd2-apply")
    sp.add_argument("--dim", required=True,
                    help="SCD2 dimension parquet (keys + attrs + "
                    "valid_from/valid_to/is_current)")
    sp.add_argument("--updates", required=True,
                    help="key-unique observed states (keys + attrs + "
                    "--effective-col)")
    sp.add_argument("--key", action="append", required=True,
                    metavar="COL")
    sp.add_argument("--attr", action="append", required=True,
                    metavar="COL", help="tracked attribute (repeat)")
    sp.add_argument("--effective-col", default="effective")
    sp.add_argument("--out", required=True)

    sp = sub.add_parser("table-diff")
    sp.add_argument("--old", required=True, help="old snapshot parquet")
    sp.add_argument("--new", required=True, help="new snapshot parquet")
    sp.add_argument("--key", action="append", required=True,
                    metavar="COL")
    sp.add_argument("--out", required=True)

    sp = sub.add_parser("compact-plan")
    sp.add_argument("--files", default=None,
                    help="file-stats parquet: partition cols + "
                    "file_name + bytes")
    sp.add_argument("--path", default=None,
                    help="alternatively, a data directory to LIST "
                    "(Hadoop FS metadata walk; hive-style k=v "
                    "segments become the partition columns)")
    sp.add_argument("--partition-col", action="append", required=True,
                    metavar="COL")
    sp.add_argument("--target-bytes", type=int, default=128 * 1024 * 1024)
    sp.add_argument("--small-threshold", type=int, default=None,
                    help="only files below this participate "
                    "(default: the target)")
    sp.add_argument("--out", required=True)

    sp = sub.add_parser("join-size")
    sp.add_argument("--left", required=True, help="left parquet path")
    sp.add_argument("--left-key", required=True)
    sp.add_argument("--right", required=True, help="right parquet path")
    sp.add_argument("--right-key", required=True)
    sp.add_argument("--width", type=int, default=8192,
                    help="CMS width w; the bound is n_left*n_right/w")
    sp.add_argument("--depth", type=int, default=4)
    sp.add_argument("--out", required=True)

    sp = sub.add_parser("vocab-overlap")
    sp.add_argument("--left", required=True,
                    help="documents parquet (e.g. last month's crawl)")
    sp.add_argument("--right", required=True,
                    help="documents parquet (e.g. this month's crawl)")
    sp.add_argument("-m", "--registers", type=int, default=1024,
                    help="HLL registers (power of two)")
    sp.add_argument("--out", required=True)

    sp = sub.add_parser("media-stats")
    sp.add_argument("--media", required=True,
                    help="MEDIA_SCHEMA parquet path (asset_id, modality, "
                    "content, meta)")
    sp.add_argument("--out", required=True, help="output parquet path")

    sp = sub.add_parser("media-curate")
    sp.add_argument("--media", required=True,
                    help="MEDIA_SCHEMA parquet path (asset_id, modality, "
                    "content, meta)")
    sp.add_argument("--out", required=True, help="output parquet path")
    sp.add_argument("--max-hamming", type=int, default=3)
    sp.add_argument("--fake", action="store_true",
                    help="md5 pseudo-hashes instead of real decodes "
                    "(plumbing-only path for codec-less formats)")

    sp = sub.add_parser("dedup-incremental")
    common(sp)
    sp.add_argument(
        "--hashes", required=True,
        help="parquet of (text_hash) corpus-history hashes; survivors are "
        "written to --out and the rolled-forward table to <out>_hashes",
    )

    sp = sub.add_parser("entities")
    sp.add_argument("--input", required=True, help="input parquet path")
    sp.add_argument("--out", required=True, help="output parquet path")
    sp.add_argument("--id-col", required=True)
    sp.add_argument("--name-col", required=True)
    sp.add_argument("--max-distance", type=int, default=2)

    sp = sub.add_parser("train-bpe")
    common(sp)
    sp.add_argument("--merges", type=int, default=32)
    sp.add_argument("--min-pair-count", type=int, default=2)
    sp.add_argument(
        "--batch-merges",
        type=lambda v: v if v == "auto" else int(v),
        default=1,
        help="non-interacting merges applied per driver round (1 = "
        "textbook sequential schedule; 'auto' = adaptive doubling "
        "schedule)",
    )

    sp = sub.add_parser("dsir")
    common(sp)
    sp.add_argument(
        "--target", required=True,
        help="target-corpus parquet (the distribution to match)",
    )
    sp.add_argument("--m-buckets", type=int, default=256)
    sp.add_argument(
        "-k", "--sample-k", type=int, default=None,
        help="if set, emit the Gumbel-top-k resample instead of weights",
    )

    sp = sub.add_parser("ann-index")
    common(sp, embeddings=True)
    sp.add_argument("--cells", type=int, default=16)
    sp.add_argument(
        "--centroids", default=None,
        help="where to write the coarse quantizer (default <out>_centroids)",
    )

    sp = sub.add_parser("ann-query")
    common(sp, embeddings=True)
    sp.add_argument("--index", required=True, help="(vec_id, cell, vec) parquet")
    sp.add_argument("--centroids", required=True)
    sp.add_argument("--k", type=int, default=5)
    sp.add_argument("--n-probe", type=int, default=2)

    sp = sub.add_parser("ann-index-pq")
    common(sp, embeddings=True)
    sp.add_argument("--cells", type=int, default=8)
    sp.add_argument("-m", "--subspaces", type=int, default=8)
    sp.add_argument("--kc", type=int, default=16)
    sp.add_argument(
        "--model-prefix", default=None,
        help="where to write centroids/codebooks (default <out>_centroids"
        " / <out>_codebooks); --out receives the (vec_id, cell, codes)"
        " compressed corpus",
    )

    sp = sub.add_parser("ann-query-pq")
    common(sp, embeddings=True)
    sp.add_argument("--codes", required=True, help="(vec_id, cell, codes) parquet")
    sp.add_argument("--centroids", required=True)
    sp.add_argument("--codebooks", required=True)
    sp.add_argument("-m", "--subspaces", type=int, default=8)
    sp.add_argument("--k", type=int, default=5)
    sp.add_argument("--n-probe", type=int, default=2)

    return p


def _result(
    args: argparse.Namespace,
    spark: SparkSession,
    handles: list | None = None,
) -> DataFrame:
    if args.command == "kmeans":
        emb = spark.read.parquet(args.embeddings)
        return similarity.kmeans(
            emb,
            k=args.clusters,
            iters=args.iters,
            train_sample_mod=args.train_sample_mod,
            handles=handles,
        )

    if args.command == "semdedup":
        emb = spark.read.parquet(args.embeddings)
        return dedup.semantic_dedup(
            emb, k=args.clusters, iters=args.iters, eps=args.eps,
            handles=handles,
        )

    if args.command == "media-stats":
        from .plans import media as media_plans

        return media_plans.media_format_summary(
            spark.read.parquet(args.media)
        )
    if args.command == "media-curate":
        from .plans import media as media_plans

        return media_plans.curate_media(
            spark.read.parquet(args.media),
            max_hamming=args.max_hamming,
            fake=args.fake,
        )

    if args.command == "entities":
        from .operators.entity import resolve_entities

        return resolve_entities(
            spark.read.parquet(args.input),
            id_col=args.id_col,
            name_col=args.name_col,
            max_distance=args.max_distance,
        )
    if args.command == "ann-index":
        from .operators.similarity import ivf_assign, ivf_centroids

        emb = spark.read.parquet(args.embeddings)
        cents = ivf_centroids(emb, n_cells=args.cells)
        cents.write.mode("overwrite").parquet(
            args.centroids or args.out + "_centroids"
        )
        return ivf_assign(emb, cents).select("vec_id", "cell", "vec")
    if args.command == "ann-query":
        from .operators.similarity import ivf_search

        return ivf_search(
            spark.read.parquet(args.index),
            spark.read.parquet(args.centroids),
            spark.read.parquet(args.embeddings),
            k=args.k,
            n_probe=args.n_probe,
        )
    if args.command == "ann-index-pq":
        from .operators.similarity import ivfpq_index

        emb = spark.read.parquet(args.embeddings)
        cents, cb, codes = ivfpq_index(
            emb, n_cells=args.cells, m=args.subspaces, kc=args.kc
        )
        prefix = args.model_prefix or args.out
        cents.write.mode("overwrite").parquet(prefix + "_centroids")
        cb.write.mode("overwrite").parquet(prefix + "_codebooks")
        return codes
    if args.command == "ann-query-pq":
        from .operators.similarity import ivfpq_search

        return ivfpq_search(
            spark.read.parquet(args.codes),
            spark.read.parquet(args.centroids),
            spark.read.parquet(args.codebooks),
            spark.read.parquet(args.embeddings),
            k=args.k,
            n_probe=args.n_probe,
            m=args.subspaces,
        )

    if args.command == "skew":
        from .operators.util import skew_report

        return skew_report(
            spark.read.parquet(args.input), args.key,
            top_k=args.top_k, n_partitions=args.partitions,
        )

    if args.command == "drift":
        from .operators.drift import (
            chi2_drift,
            ks_distance,
            psi_report,
            psi_report_many,
        )

        from .operators.drift import (
            chi2_drift_many,
            js_divergence,
            ks_distance_banded,
        )

        ref = spark.read.parquet(args.ref)
        cur = spark.read.parquet(args.cur)
        if args.stat == "psi":
            if args.timeline is not None:
                if args.ts_col is None or len(args.col) != 1:
                    raise SystemExit(
                        "drift --timeline needs --ts-col and exactly "
                        "one --col"
                    )
                from .operators.drift import psi_timeline

                tcur = cur.withColumn(
                    "_ts_sec",
                    F.col(args.ts_col).cast("timestamp").cast("long")
                    if dict(cur.dtypes)
                    .get(args.ts_col, "")
                    .startswith("timestamp")
                    else F.col(args.ts_col).cast("long"),
                )
                return psi_timeline(
                    ref, tcur, args.col[0], "_ts_sec",
                    width=args.timeline, n_bins=args.bins,
                )
            if len(args.col) > 1:
                return psi_report_many(ref, cur, args.col, n_bins=args.bins)
            return psi_report(ref, cur, args.col[0], n_bins=args.bins)
        if args.stat == "chi2":
            if len(args.col) > 1:
                return chi2_drift_many(ref, cur, args.col)
            return chi2_drift(ref, cur, args.col[0])
        if len(args.col) != 1:
            raise SystemExit(f"--stat {args.stat} takes exactly one --col")
        if args.stat == "js":
            return js_divergence(ref, cur, args.col[0], n_bins=args.bins)
        if args.band_width is not None:
            return ks_distance_banded(
                ref, cur, args.col[0], width=args.band_width
            )
        return ks_distance(ref, cur, args.col[0])
    if args.command == "rank-eval":
        from .operators.ranking import ranking_metrics, ranking_summary

        m = ranking_metrics(
            spark.read.parquet(args.hits),
            spark.read.parquet(args.qrels),
            k=args.k,
            query_col=args.query_col,
            doc_col=args.doc_col,
            rank_col=args.rank_col,
            rel_col=args.rel_col,
        )
        return ranking_summary(m, query_col=args.query_col) if args.summary else m
    if args.command == "merge":
        from .operators.maintenance import merge_upsert

        return merge_upsert(
            spark.read.parquet(args.target),
            spark.read.parquet(args.updates),
            args.key,
            delete_col=args.delete_col,
        )
    if args.command == "cdc-apply":
        from .operators.maintenance import apply_changelog

        return apply_changelog(
            spark.read.parquet(args.snapshot),
            spark.read.parquet(args.changes),
            args.key,
            seq_col=args.seq_col,
            op_col=args.op_col,
        )
    if args.command == "scd2-apply":
        from .operators.maintenance import scd2_apply

        return scd2_apply(
            spark.read.parquet(args.dim),
            spark.read.parquet(args.updates),
            args.key,
            args.attr,
            effective_col=args.effective_col,
        )
    if args.command == "table-diff":
        from .operators.maintenance import snapshot_diff

        return snapshot_diff(
            spark.read.parquet(args.old),
            spark.read.parquet(args.new),
            args.key,
        )
    if args.command == "compact-plan":
        from .operators.maintenance import compaction_plan
        from .sources.layout import file_stats

        if (args.files is None) == (args.path is None):
            raise SystemExit(
                "compact-plan needs exactly one of --files / --path"
            )
        stats = (
            spark.read.parquet(args.files)
            if args.files is not None
            else file_stats(spark, args.path, args.partition_col)
        )
        return compaction_plan(
            stats,
            args.partition_col,
            target_bytes=args.target_bytes,
            small_threshold=args.small_threshold,
        )

    if args.command == "join-size":
        from .operators.sketches import cms_join_size, cms_table

        left = spark.read.parquet(args.left)
        right = spark.read.parquet(args.right)
        ca = cms_table(left, args.left_key, w=args.width, d=args.depth)
        cb = cms_table(right, args.right_key, w=args.width, d=args.depth)
        return cms_join_size(ca, cb, d=args.depth)
    if args.command == "vocab-overlap":
        from .operators.dedup import normalized
        from .operators.sketches import hll_overlap

        def toks(path: str, label: str) -> DataFrame:
            return (
                normalized(spark.read.parquet(path))
                .select(
                    F.lit(label).alias("side"),
                    F.explode(F.split("_norm", " ")).alias("tok"),
                )
                .filter(F.col("tok") != "")
            )

        both = toks(args.left, "left").unionByName(toks(args.right, "right"))
        return hll_overlap(both, "side", "tok", m=args.registers)
    if args.command == "privacy":
        from .operators.privacy import (
            k_anonymity_violations,
            l_diversity_violations,
            reidentification_risk,
        )

        tbl = spark.read.parquet(args.input)
        if args.report:
            return reidentification_risk(tbl, args.quasi, k=args.k)
        if args.sensitive and args.t_close is not None:
            from .operators.privacy import t_closeness_violations

            return t_closeness_violations(
                tbl, args.quasi, args.sensitive, t=args.t_close
            )
        if args.sensitive:
            return l_diversity_violations(
                tbl, args.quasi, args.sensitive, l=args.l_div
            )
        return k_anonymity_violations(tbl, args.quasi, k=args.k)

    if args.command == "profile":
        from .operators.profiling import (
            profile_diff,
            profile_table,
            top_values,
        )

        tbl = spark.read.parquet(args.input)
        if args.fk_rules:
            from .operators.profiling import fk_containment

            reports = []
            for spec in args.fk_rules:
                col, parent_path, parent_col = spec.split(":")
                reports.append(
                    fk_containment(
                        tbl, col, spark.read.parquet(parent_path),
                        parent_col,
                        label=f"{col}->{parent_path}:{parent_col}",
                    )
                )
            out = reports[0]
            for r in reports[1:]:
                out = out.unionByName(r)
            return out
        if args.corr:
            if not args.col or len(args.col) < 2:
                raise SystemExit("profile --corr requires >= 2 --col")
            from .operators.profiling import correlation_matrix

            return correlation_matrix(tbl, args.col)
        if args.keys:
            from .operators.profiling import candidate_keys

            return candidate_keys(
                tbl, args.col, max_arity=args.max_arity,
                approx=args.approx,
            )
        if args.compare is not None:
            return profile_diff(
                tbl, spark.read.parquet(args.compare), args.col
            )
        if args.numeric:
            if not args.col:
                raise SystemExit("profile --numeric requires --col")
            from .operators.profiling import profile_numeric

            return profile_numeric(tbl, args.col)
        if args.top_k is not None:
            if args.timeline is not None:
                from pyspark.sql import functions as _F

                from .operators.profiling import top_values_timeline

                if not args.col:
                    raise SystemExit(
                        "profile --timeline requires --col"
                    )
                spark.conf.set("spark.sql.session.timeZone", "UTC")
                ts_dtype = dict(tbl.dtypes).get(args.timeline, "")
                ts_expr = (
                    _F.col(args.timeline).cast("timestamp").cast("long")
                    if ts_dtype.startswith("timestamp")
                    else _F.col(args.timeline).cast("long")
                )
                return top_values_timeline(
                    tbl.withColumn("_ts_sec", ts_expr),
                    args.col, "_ts_sec", width=args.width,
                    k=args.top_k,
                )
            return top_values(tbl, args.col, k=args.top_k)
        return profile_table(tbl, args.col, approx=args.approx)

    if args.command == "normalize":
        docs = spark.read.parquet(args.documents)
        if args.markup:
            stripped = text.strip_markup(docs).select(
                "doc_id", F.col("clean_text").alias("text")
            )
            return text.normalize_text(stripped)
        return text.normalize_text(docs)

    if args.command == "resample":
        from pyspark.sql import functions as _F

        from .operators.temporal import ohlc_downsample, time_bucket_gapfill

        spark.conf.set("spark.sql.session.timeZone", "UTC")
        tbl = spark.read.parquet(args.input)
        # timestamp/timestamp_ntz -> epoch seconds via an intermediate
        # timestamp cast (NTZ cannot cast straight to BIGINT; session tz
        # pinned UTC above); an already-numeric column passes through
        ts_dtype = dict(tbl.dtypes).get(args.ts_col, "")
        ts_expr = (
            _F.col(args.ts_col).cast("timestamp").cast("long")
            if ts_dtype.startswith("timestamp")
            else _F.col(args.ts_col).cast("long")
        )
        tbl = tbl.withColumn("_ts_sec", ts_expr)
        if args.ohlc:
            return ohlc_downsample(
                tbl, args.key, "_ts_sec", args.value_col,
                width=args.width, seq_col=args.seq_col,
            )
        return time_bucket_gapfill(
            tbl, args.key, "_ts_sec", args.value_col,
            width=args.width, agg=args.agg, fill=args.fill,
            max_buckets=args.max_buckets,
        )

    if args.command == "trend":
        from pyspark.sql import functions as _F

        from .operators.temporal import (
            trend_changepoint,
            trend_mann_kendall,
            trend_ols,
            trend_theil_sen,
        )

        spark.conf.set("spark.sql.session.timeZone", "UTC")
        tbl = spark.read.parquet(args.input)
        ts_dtype = dict(tbl.dtypes).get(args.ts_col, "")
        ts_expr = (
            _F.col(args.ts_col).cast("timestamp").cast("long")
            if ts_dtype.startswith("timestamp")
            else _F.col(args.ts_col).cast("long")
        )
        # no --key: one whole-table trend under a constant key
        keys = args.key or []
        # FLOOR division, exact int64: Spark `div` truncates toward
        # zero while DuckDB `//` (the oracles/docs) floors, so a
        # NEGATIVE epoch (pre-1970 ts via the generic --ts-col path)
        # would land in the wrong bucket cross-engine. pmod rebases
        # the remainder non-negative, so (t - pmod(t,w)) div w is the
        # floor for any sign of t — no double round-trip.
        w_int = int(args.width)
        daily = (
            tbl.select(*keys, ts_expr.alias("_t"))
            .select(
                *keys,
                _F.expr(
                    f"(_t - pmod(_t, {w_int})) div {w_int}"
                ).alias("x"),
            )
            .groupBy(*keys, "x")
            .agg(_F.count(_F.lit(1)).alias("y"))
        )
        fit = {
            "ols": lambda d, k: trend_ols(d, k, "x", "y"),
            "theil-sen": lambda d, k: trend_theil_sen(
                d, k, "x", "y", max_points=args.max_points
            ),
            "mann-kendall": lambda d, k: trend_mann_kendall(
                d, k, "x", "y"
            ),
            "changepoint": lambda d, k: trend_changepoint(
                d, k, "x", "y"
            ),
        }[args.stat]
        if keys:
            return fit(daily, keys)
        return fit(
            daily.withColumn("_all", _F.lit("all")), ["_all"]
        ).drop("_all")
    if args.command == "kappa":
        from .operators.ranking import agreement_kappa

        return agreement_kappa(
            spark.read.parquet(args.input), args.col_a, args.col_b
        )
    if args.command == "fleiss":
        from .operators.ranking import fleiss_kappa

        return fleiss_kappa(
            spark.read.parquet(args.input), args.item_col, args.label_col
        )
    if args.command == "cramers-v":
        from .operators.profiling import cramers_v

        return cramers_v(
            spark.read.parquet(args.input), args.col_a, args.col_b,
            max_cells=args.max_cells,
        )
    if args.command == "calibration":
        from .operators.ranking import (
            calibration_report,
            calibration_summary,
        )

        fn = calibration_report if args.bins else calibration_summary
        return fn(
            spark.read.parquet(args.input), args.score_col,
            args.label_col, n_bins=args.n_bins,
        )
    if args.command == "cluster-eval":
        from .operators.entity import pairwise_cluster_eval

        return pairwise_cluster_eval(
            spark.read.parquet(args.input), args.pred_col, args.truth_col
        )
    if args.command == "conversion-lag":
        from pyspark.sql import functions as _F

        from .operators.funnel import conversion_lag

        spark.conf.set("spark.sql.session.timeZone", "UTC")
        tbl = spark.read.parquet(args.input)
        ts_dtype = dict(tbl.dtypes).get(args.ts_col, "")
        ts_expr = (
            _F.col(args.ts_col).cast("timestamp").cast("long")
            if ts_dtype.startswith("timestamp")
            else _F.col(args.ts_col).cast("long")
        )
        e = tbl.select(
            _F.col(args.user_col), ts_expr.alias("_t"),
            _F.col(args.type_col),
        )
        return conversion_lag(
            e, args.user_col, "_t", args.type_col, args.touch,
            args.conversion, args.lookback_s,
        )
    if args.command == "freshness":
        from pyspark.sql import functions as _F

        from .operators.temporal import freshness_report

        spark.conf.set("spark.sql.session.timeZone", "UTC")
        tbl = spark.read.parquet(args.input)
        ts_dtype = dict(tbl.dtypes).get(args.ts_col, "")
        ts_expr = (
            _F.col(args.ts_col).cast("timestamp").cast("long")
            if ts_dtype.startswith("timestamp")
            else _F.col(args.ts_col).cast("long")
        )
        e = tbl.select(*args.key, ts_expr.alias("_t"))
        return freshness_report(e, args.key, "_t", as_of=args.as_of)
    if args.command == "theils-u":
        from .operators.profiling import theils_u

        return theils_u(
            spark.read.parquet(args.input), args.col_a, args.col_b
        )
    if args.command == "benford":
        from .operators.profiling import benford_audit

        return benford_audit(spark.read.parquet(args.input), args.col)
    if args.command == "survival":
        from pyspark.sql import functions as _F

        from .operators.funnel import survival_curve

        spark.conf.set("spark.sql.session.timeZone", "UTC")
        tbl = spark.read.parquet(args.input)
        ts_dtype = dict(tbl.dtypes).get(args.ts_col, "")
        ts_expr = (
            _F.col(args.ts_col).cast("timestamp").cast("long")
            if ts_dtype.startswith("timestamp")
            else _F.col(args.ts_col).cast("long")
        )
        e = tbl.select(_F.col(args.user_col), ts_expr.alias("_t"))
        return survival_curve(
            e, args.user_col, "_t", args.bucket_s,
            censor_margin_s=args.censor_margin_s,
        )
    if args.command == "sample-stratified":
        from .operators.text import sample_stratified

        return sample_stratified(
            spark.read.parquet(args.documents),
            k=args.k,
            domain_col=args.domain_col,
            weight_col=args.weight_col,
            seed=args.seed,
        )
    if args.command == "sample-pps":
        from .operators.text import sample_pps

        return sample_pps(
            spark.read.parquet(args.documents),
            k=args.k,
            weight_col=args.weight_col,
            domain_col=args.domain_col,
            seed=args.seed,
        )
    if args.command == "top-paths":
        from pyspark.sql import functions as _F

        from .operators.funnel import top_paths

        spark.conf.set("spark.sql.session.timeZone", "UTC")
        tbl = spark.read.parquet(args.input)
        ts_dtype = dict(tbl.dtypes).get(args.ts_col, "")
        ts_expr = (
            _F.col(args.ts_col).cast("timestamp").cast("long")
            if ts_dtype.startswith("timestamp")
            else _F.col(args.ts_col).cast("long")
        )
        return top_paths(
            tbl, args.n_steps, args.k, t=ts_expr,
            user_col=args.user_col, type_col=args.type_col,
            order_tiebreak=args.seq_col,
        )
    if args.command == "cluster-split":
        from .operators import dedup as _dedup

        docs = spark.read.parquet(args.documents)
        pairs = _dedup.jaccard_pairs(docs, threshold=args.threshold)
        return _dedup.cluster_split(
            docs, pairs, val_pct=args.val_pct, seed=args.seed
        )
    if args.command == "monitor":
        from pyspark.sql import functions as _F

        from .operators.temporal import (
            rate_of_change,
            rolling_zscore,
            seasonal_deviations,
        )

        spark.conf.set("spark.sql.session.timeZone", "UTC")
        tbl = spark.read.parquet(args.input)
        ts_dtype = dict(tbl.dtypes).get(args.ts_col, "")
        ts_expr = (
            _F.col(args.ts_col).cast("timestamp").cast("long")
            if ts_dtype.startswith("timestamp")
            else _F.col(args.ts_col).cast("long")
        )
        tbl = tbl.withColumn("_ts_sec", ts_expr)
        if args.stat == "seasonal":
            return seasonal_deviations(
                tbl, args.key, "_ts_sec", args.value_col,
                period=args.period, n_buckets=args.phases,
            )
        if args.seq_col is None:
            raise SystemExit(
                f"monitor --stat {args.stat} requires --seq-col (the "
                "timestamp tiebreak that keeps duplicate-ts windows "
                "deterministic)"
            )
        if args.stat == "rate":
            return rate_of_change(
                tbl, args.key, "_ts_sec", args.value_col, args.seq_col,
                counter=args.counter,
            )
        return rolling_zscore(
            tbl, args.key, "_ts_sec", args.value_col, args.seq_col,
            window=args.window, min_obs=args.min_obs,
        )

    if args.command == "expect":
        from .operators.expect import check_expectations

        if args.infer:
            from .operators.expect import infer_expectations

            return infer_expectations(
                spark.read.parquet(args.input),
                cols=args.infer_col,
                max_set_values=args.max_set_values,
            )
        rules: list[dict] = []
        rules += [{"column": c, "check": "not_null"} for c in args.not_null]
        rules += [{"column": c, "check": "unique"} for c in args.unique]
        for spec in args.range_rules:
            col, lo, hi = spec.split(":")
            rules.append({"column": col, "check": "range",
                          "min": float(lo), "max": float(hi)})
        for spec in args.inset_rules:
            col, _, vals = spec.partition(":")
            rules.append({"column": col, "check": "in_set",
                          "values": vals.split(",")})
        for spec in args.regex_rules:
            col, _, pat = spec.partition(":")
            rules.append({"column": col, "check": "regex", "pattern": pat})
        for spec in args.predicate_rules:
            label, _, sql = spec.partition(":")
            rules.append({"column": label, "check": "predicate",
                          "sql": sql})
        for spec in args.freshness_rules:
            col, max_age, as_of = spec.split(":")
            rules.append({"column": col, "check": "freshness",
                          "max_age_s": int(max_age),
                          "as_of": int(as_of)})
        if not rules:
            raise SystemExit("expect: give at least one rule flag")
        return check_expectations(spark.read.parquet(args.input), rules)

    docs = spark.read.parquet(args.documents)
    if args.command == "train-bpe":
        from .operators.bpe import train_bpe

        return train_bpe(
            docs,
            n_merges=args.merges,
            min_pair_count=args.min_pair_count,
            batch_merges=args.batch_merges,
        )
    if args.command == "dsir":
        target = spark.read.parquet(args.target)
        if args.sample_k is not None:
            return text.dsir_sample(
                docs, target, k=args.sample_k, m_buckets=args.m_buckets
            )
        return text.dsir_log_weights(docs, target, m_buckets=args.m_buckets)
    if args.command == "classify":
        bias = 0.0
        if args.weights:
            model = {
                r["bucket"]: r["weight"]
                for r in spark.read.parquet(args.weights).collect()
            }
            bias = model.pop(-1, 0.0)
            weights = [model.get(b, 0.0) for b in range(max(model) + 1)]
        else:
            weights = text.default_classifier_weights(args.dim)
        return text.classifier_score(
            docs, weights, bias=bias, threshold=args.threshold
        )
    if args.command == "train-classifier":
        positives = [
            s for s in args.positive_sources.split(",") if s
        ]
        return text.train_quality_classifier(
            docs,
            positive=F.col("source").isin(positives),
            dim=args.dim,
            iters=args.iters,
            lr=args.lr,
        )
    if args.command == "audit":
        return corpus_plans.filter_audit(
            docs,
            lang=args.lang,
            min_words=args.min_words,
            max_words=args.max_words,
            jaccard_threshold=args.jaccard_threshold,
            handles=handles,
        )
    if args.command == "c4":
        return text.c4_quality(
            docs,
            min_line_words=args.min_line_words,
            min_sentences=args.min_sentences,
        )
    if args.command == "ccnet":
        return text.ccnet_buckets(docs, alpha=args.alpha)
    if args.command == "epochs":
        factors = {}
        for spec in args.factor:
            src, _, e = spec.partition("=")
            factors[src] = float(e)
        return text.epoch_expand(docs, factors, seed=args.seed)
    if args.command == "report-tokens":
        factors = {}
        for spec in args.factor:
            src, _, e = spec.partition("=")
            factors[src] = float(e)
        return corpus_plans.token_report(
            docs,
            factors,
            lang=args.lang,
            min_words=args.min_words,
            max_words=args.max_words,
            jaccard_threshold=args.jaccard_threshold,
            seed=args.seed,
            handles=handles,
        )
    if args.command == "mix":
        budgets = {}
        for spec in args.budget:
            src, _, tok = spec.partition("=")
            budgets[src] = int(tok)
        return text.mix_by_budget(docs, budgets)
    if args.command == "mix-unimax":
        if args.draw:
            return text.unimax_draw(
                docs,
                total_tokens=args.total_tokens,
                max_epochs=args.max_epochs,
            )
        return text.unimax_allocation(
            docs,
            total_tokens=args.total_tokens,
            max_epochs=args.max_epochs,
        )
    if args.command == "mix-doremi":
        if args.total_tokens is not None:
            return text.doremi_sample(
                docs,
                total_tokens=args.total_tokens,
                iters=args.iters,
                eta=args.eta,
                smoothing=args.smoothing,
            )
        return text.doremi_mixture(
            docs, iters=args.iters, eta=args.eta, smoothing=args.smoothing
        )
    if args.command == "compare":
        if (args.group_lang is None) == (args.group_source is None):
            raise SystemExit(
                "compare: give exactly one of --group-lang / --group-source"
            )
        if args.group_lang is not None:
            group = F.col("lang") == args.group_lang
        else:
            group = F.col("source") == args.group_source
        return text.log_odds_terms(docs, group, alpha=args.alpha)
    if args.command == "langs":
        if args.split:
            return text.split_by_language(docs, para_words=args.para_words)
        return text.paragraph_language_profile(
            docs, para_words=args.para_words
        )
    if args.command == "dedup-incremental":
        seen = spark.read.parquet(args.hashes)
        kept = dedup.incremental_exact_dedup(docs, seen)
        dedup.incremental_hashes(seen, docs).write.mode("overwrite").parquet(
            args.out + "_hashes"
        )
        return kept
    if args.command == "perplexity":
        return text.bigram_lm_scores(docs, alpha=args.alpha)
    if args.command == "interleave":
        weights = {}
        for spec in args.weight:
            src, _, wt = spec.partition("=")
            weights[src] = float(wt)
        return text.interleave_sources(docs, weights)
    if args.command == "stats":
        return text.corpus_stats(docs)
    if args.command == "quality":
        return text.gopher_quality(docs)
    if args.command == "curate":
        return corpus_plans.curate_corpus(
            docs,
            seg_words=args.seg_words,
            min_df=args.min_df,
            max_avg_nll=args.max_avg_nll,
        )
    if args.command == "clean":
        return corpus_plans.clean_corpus(
            docs,
            lang=args.lang,
            min_words=args.min_words,
            max_words=args.max_words,
            jaccard_threshold=args.jaccard_threshold,
            near_dedup=args.near_dedup,
            handles=handles,
        )
    if args.command == "training":
        return corpus_plans.corpus_to_training(
            docs,
            lang=args.lang,
            chunk_tokens=args.chunk_tokens,
            overlap=args.overlap,
            val_pct=args.val_pct,
            handles=handles,
        )
    if args.command == "pack":
        chunks = corpus_plans.corpus_to_training(
            docs,
            lang=args.lang,
            chunk_tokens=args.chunk_tokens,
            overlap=args.overlap,
            val_pct=args.val_pct,
            handles=handles,
        )
        if args.policy == "bfd":
            return text.pack_sequences_bfd(chunks, seq_tokens=args.seq_tokens)
        return text.pack_sequences(chunks, seq_tokens=args.seq_tokens)
    if args.command == "dedup":
        if args.mode == "exact":
            return dedup.exact_dedup_keep(docs)
        if args.mode == "paragraphs":
            return dedup.segment_dedup(docs, seg_words=args.seg_words)
        if args.mode == "boilerplate":
            return dedup.drop_boilerplate(docs, seg_words=args.seg_words)
        if args.mode == "minhash":
            return dedup.lsh_candidate_pairs(docs)
        if args.mode == "simhash":
            return dedup.simhash64(docs)
        if args.mode == "substrings":
            return dedup.strip_duplicate_spans(
                docs, min_words=args.min_words
            )
        if args.mode == "containment":
            return dedup.containment_pairs(
                docs, threshold=args.containment_threshold
            )
        if args.mode == "editdist":
            prefixed = docs.select(
                "doc_id",
                F.substring("text", 1, args.prefix_chars).alias("text"),
            )
            return dedup.edit_distance_pairs(
                prefixed, max_dist=args.max_dist, q=3
            )
        # clusters: transitive components over the Jaccard pair graph
        pairs = dedup.jaccard_pairs(docs, threshold=args.jaccard_threshold)
        return dedup.connected_components(pairs, check_every=2)
    if args.command == "script-profile":
        return text.script_profile(docs)
    if args.command == "diff":
        return corpus_plans.corpus_diff(
            spark.read.parquet(args.old), docs
        )
    if args.command == "search":
        emb = spark.read.parquet(args.embeddings)
        return text.hybrid_search_rrf(
            docs,
            emb,
            [t for t in args.terms.split(",") if t],
            query_vec_id=args.query_vec_id,
            k=args.k,
            k_each=args.k_each,
            c=args.rrf_c,
        )
    if args.command == "decontaminate":
        bench = spark.read.parquet(args.benchmark)
        if args.bloom:
            bmp = dedup.bloom_bitmap(
                bench,
                m_bits=args.m_bits,
                k_hashes=args.k_hashes,
                shingle_k=args.shingle_k,
            )
            return dedup.decontaminate_bloom(
                docs,
                bmp,
                m_bits=args.m_bits,
                k_hashes=args.k_hashes,
                shingle_k=args.shingle_k,
            )
        return dedup.decontaminate(docs, bench, k=args.shingle_k)
    raise ValueError(f"unknown command {args.command!r}")


def run(args: argparse.Namespace, spark: SparkSession | None = None) -> dict:
    owns = spark is None
    spark = spark or get_spark("corpus-cli")
    handles: list = []
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    pinned_before = set(rdds().keySet().toArray())
    try:
        out = _result(args, spark, handles=handles)
        if args.command == "interleave":
            # ordered-shard write: range partitioning + within-shard sort
            # (a plain write would lose the curriculum order)
            from .sources.layout import write_ordered_shards

            write_ordered_shards(
                out, args.out, "order_key", n_shards=args.shards
            )
        else:
            out.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        return {"command": args.command, "rows": n, "out": args.out}
    finally:
        # release operator-staged blocks now the output is on disk —
        # run() may be called many times against a borrowed session.
        # unpersist() also drops the handles' catalog cache entries;
        # the RDD sweep then frees what kernels localCheckpoint()ed,
        # leaving blocks pinned before the run untouched.
        for h in handles:
            h.unpersist()
        pinned = rdds()
        for rid in set(pinned.keySet().toArray()) - pinned_before:
            jrdd = pinned.get(rid)
            if jrdd is not None:
                jrdd.unpersist(False)
        if owns:
            spark.stop()


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)
    print(json.dumps(run(args)))


if __name__ == "__main__":
    main()
