"""Unit tests for the round-3 training-pipeline text/dedup additions:
decontamination, repetition screens, domain sampling, PII redaction,
and the streaming↔batch MinHash band-signature parity pin."""

from __future__ import annotations

from pyspark.sql import functions as F

from process_alphafold3_outputs_spark.operators import dedup, text
from process_alphafold3_outputs_spark.streaming.state import (
    minhash_band_projection,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# --------------------------------------------------------------------------
# decontamination
# --------------------------------------------------------------------------


def test_decontaminate_flags_overlap(spark):
    docs = _docs(
        spark,
        [
            (1, "alpha beta gamma delta"),   # shares "alpha beta gamma"
            (2, "epsilon zeta eta theta"),   # disjoint
            (3, "iota kappa lambda"),        # exactly the benchmark doc
        ],
    )
    bench = _docs(
        spark,
        [(100, "alpha beta gamma"), (101, "iota kappa lambda")],
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in dedup.decontaminate(docs, bench, k=3).collect()
    }
    assert got[1]["contaminated"] == 1 and got[1]["n_hits"] == 1
    assert got[1]["n_shingles"] == 2  # "alpha beta gamma", "beta gamma delta"
    assert got[2]["contaminated"] == 0 and got[2]["n_hits"] == 0
    assert got[3]["contaminated"] == 1 and got[3]["n_hits"] == 1

    survivors = dedup.decontaminated_docs(docs, bench, k=3)
    assert [r["doc_id"] for r in survivors.collect()] == [2]


def test_decontaminate_short_doc_single_shingle(spark):
    # < k words: the whole text is the single shingle (word_shingles
    # convention), so an exact short match is still caught
    docs = _docs(spark, [(1, "tiny doc"), (2, "other text")])
    bench = _docs(spark, [(9, "tiny doc")])
    got = {
        r["doc_id"]: r["contaminated"]
        for r in dedup.decontaminate(docs, bench, k=5).collect()
    }
    assert got == {1: 1, 2: 0}


# --------------------------------------------------------------------------
# repetition screens
# --------------------------------------------------------------------------


def test_repetition_scores_known_fractions(spark):
    docs = _docs(
        spark,
        [
            (1, "a b a b c"),     # 2-grams: ab ba ab bc -> 1 dup of 4
            (2, "x y z"),         # no repetition
            (3, "w w w w"),       # 2-grams: ww ww ww -> 2 dup of 3
            (4, "solo"),          # < k words: single gram, zero dup
        ],
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in text.repetition_scores(docs).collect()
    }
    assert got[1]["n_grams_2"] == 4 and got[1]["n_dup_2"] == 1
    assert got[1]["dup_frac_2"] == 0.25
    # 3-grams of doc1: "a b a", "b a b", "a b c" -> distinct
    assert got[1]["n_dup_3"] == 0
    assert got[2]["n_dup_2"] == 0 and got[2]["n_dup_3"] == 0
    assert got[3]["n_grams_2"] == 3 and got[3]["n_dup_2"] == 2
    assert got[3]["n_grams_3"] == 2 and got[3]["n_dup_3"] == 1
    assert got[4]["n_grams_2"] == 1 and got[4]["n_dup_2"] == 0


def test_repetition_is_narrow_plan(spark):
    docs = _docs(spark, [(1, "a b c")])
    plan = text.repetition_scores(docs)._jdf.queryExecution().executedPlan().toString()
    # spread() repartitions once in local mode (REPARTITION_BY_NUM,
    # quiet-window A/B-validated: 0.28 s vs 1.03 s without); the scoring
    # itself must add NO further Exchange — pure projection at any scale
    assert plan.count("Exchange") <= 1
    assert "REPARTITION_BY_NUM" in plan or "Exchange" not in plan


# --------------------------------------------------------------------------
# domain sampling
# --------------------------------------------------------------------------


def test_sample_by_domain_rate_extremes_and_determinism(spark):
    rows = [(i, f"t{i}", "keepall" if i % 3 == 0 else ("dropall" if i % 3 == 1 else "other")) for i in range(120)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    kept = text.sample_by_domain(
        docs, {"keepall": 100, "dropall": 0}, default_pct=50
    )
    pdf = kept.toPandas()
    by_src = pdf.groupby("source")["doc_id"].count().to_dict()
    assert by_src.get("keepall") == 40          # rate 100 keeps every row
    assert "dropall" not in by_src              # rate 0 keeps none
    assert 0 < by_src.get("other", 0) < 40      # default rate is partial
    # determinism: identical output on re-run (hash gate, not rand())
    pdf2 = text.sample_by_domain(
        docs, {"keepall": 100, "dropall": 0}, default_pct=50
    ).toPandas()
    assert sorted(pdf.doc_id) == sorted(pdf2.doc_id)


def test_sample_by_domain_consistent_with_split_hash(spark):
    # same md5 bucket arithmetic as split_col: a domain at rate 10 keeps
    # exactly the docs split_assign(val_pct=10, seed=...) calls 'val'
    docs = spark.createDataFrame(
        [(i, f"t{i}", "d") for i in range(200)],
        "doc_id long, text string, source string",
    )
    kept = set(
        r["doc_id"]
        for r in text.sample_by_domain(docs, {"d": 10}, seed="s9").collect()
    )
    val = set(
        r["doc_id"]
        for r in text.split_assign(docs, val_pct=10, seed="s9")
        .filter(F.col("split") == "val")
        .collect()
    )
    assert kept == val


# --------------------------------------------------------------------------
# PII redaction
# --------------------------------------------------------------------------


def test_redact_pii_patterns(spark):
    docs = _docs(
        spark,
        [
            (1, "mail a.user+tag@sub.example.org now"),
            (2, "host 192.168.0.1 and 10.0.0.255 up"),
            (3, "call 555-867-5309 today"),
            (4, "plain text no pii"),
            (5, "x@y.io 1.2.3.4 111-222-3333"),  # all three in one row
        ],
    )
    got = {r["doc_id"]: r.asDict() for r in text.redact_pii(docs).collect()}
    assert got[1]["clean_text"] == "mail <EMAIL> now"
    assert got[1]["n_emails"] == 1 and got[1]["n_ips"] == 0
    assert got[2]["clean_text"] == "host <IP> and <IP> up"
    assert got[2]["n_ips"] == 2
    assert got[3]["clean_text"] == "call <PHONE> today"
    assert got[3]["n_phones"] == 1
    assert got[4]["clean_text"] == "plain text no pii"
    assert (got[4]["n_emails"], got[4]["n_ips"], got[4]["n_phones"]) == (0, 0, 0)
    assert got[5]["clean_text"] == "<EMAIL> <IP> <PHONE>"


def test_redact_pii_order_no_double_count(spark):
    # the email's domain contains dots but must NOT later count as an IP;
    # digits inside an already-redacted span must not count as a phone
    docs = _docs(spark, [(1, "u1@h1.co 555-123-4567")])
    row = text.redact_pii(docs).collect()[0]
    assert row["clean_text"] == "<EMAIL> <PHONE>"
    assert row["n_emails"] == 1 and row["n_ips"] == 0 and row["n_phones"] == 1


# --------------------------------------------------------------------------
# streaming ↔ batch MinHash parity
# --------------------------------------------------------------------------


def test_streaming_band_projection_matches_batch_minhash(spark):
    """The streaming per-row band signature must equal the batch
    minhash_sig_array-derived band signature — this pins the md5 seed
    arithmetic (a two-parameter lambda regression silently turned every
    seed into the same str(Column) garbage)."""
    n_bands, rows_per_band = 4, 3
    docs = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different words here entirely"),
        ],
    )
    stream_bands = {
        (r["doc_id"], r["band"]): r["band_sig"]
        for r in minhash_band_projection(
            docs, n_bands, rows_per_band
        ).collect()
    }
    sig = {
        r["doc_id"]: r["sig"]
        for r in dedup.minhash_sig_array(
            docs, n_hashes=n_bands * rows_per_band
        ).collect()
    }
    batch_bands = {
        (doc, b): "|".join(s[b * rows_per_band : (b + 1) * rows_per_band])
        for doc, s in sig.items()
        for b in range(n_bands)
    }
    assert stream_bands == batch_bands
    # and the signature is NOT degenerate: some doc has distinct band sigs
    assert len({v for (d, _), v in stream_bands.items() if d == 1}) > 1


# --------------------------------------------------------------------------
# segment-level (paragraph) dedup
# --------------------------------------------------------------------------


def test_segment_dedup_drops_repeated_segments(spark):
    # seg_words=2 → doc 1: [a b][c d]; doc 2: [a b][x y] (loses [a b]);
    # doc 3: [c d][a b] (loses both → empty survivor)
    docs = _docs(
        spark,
        [
            (1, "a b c d"),
            (2, "a b x y"),
            (3, "c d a b"),
        ],
    )
    out = {
        r["doc_id"]: r
        for r in dedup.segment_dedup(docs, seg_words=2).collect()
    }
    assert out[1]["n_segments"] == 2 and out[1]["n_kept"] == 2
    assert out[1]["dedup_text"] == "a b c d"
    assert out[2]["n_kept"] == 1 and out[2]["dedup_text"] == "x y"
    # fully-duplicate doc keeps its row with an empty rebuild
    assert out[3]["n_kept"] == 0 and out[3]["dedup_text"] == ""


def test_segment_dedup_first_occurrence_is_global_order(spark):
    # the SAME segment in two docs: the smaller (doc_id, chunk_id) wins
    docs = _docs(spark, [(5, "p q r s"), (2, "r s p q")])
    out = {
        r["doc_id"]: r
        for r in dedup.segment_dedup(docs, seg_words=2).collect()
    }
    # doc 2 registered both segments first (lower doc_id)
    assert out[2]["n_kept"] == 2
    assert out[5]["n_kept"] == 0


def test_segment_dedup_short_doc_survives_whole(spark):
    # shorter than one segment → single tail segment, kept
    docs = _docs(spark, [(1, "solo"), (2, "solo")])
    out = {
        r["doc_id"]: r
        for r in dedup.segment_dedup(docs, seg_words=8).collect()
    }
    assert out[1]["n_kept"] == 1 and out[1]["dedup_text"] == "solo"
    assert out[2]["n_kept"] == 0


# --------------------------------------------------------------------------
# Gopher quality rules
# --------------------------------------------------------------------------


def test_gopher_quality_rule_branches(spark):
    filler = " ".join(["the quick brown fox and that dog have fun with it"] * 6)  # 60 words, stopword-rich
    docs = _docs(
        spark,
        [
            (1, filler),                                   # passes everything
            (2, "too short to pass"),                      # word-count floor
            (3, " ".join(["zz#x##"] * 60)),                # symbol ratio + no stopwords
            (4, "\n".join(["- bullet line"] * 30) + "\n" + filler),  # bullets
            (5, "\n".join([f"{w} trailing..." for w in ["line"] * 20]) + "\n" + filler),  # ellipsis ends
            (6, " ".join(["12345 67890"] * 30)),           # alpha fraction
        ],
    )
    out = {r["doc_id"]: r for r in text.gopher_quality(docs).collect()}
    assert out[1]["keep"] == 1
    assert out[2]["keep"] == 0 and out[2]["n_words"] == 4
    assert out[3]["keep"] == 0 and out[3]["symbol_ratio"] > 0.1
    assert out[4]["keep"] == 0 and out[4]["bullet_line_frac"] > 0.9
    assert out[5]["keep"] == 0 and out[5]["ellipsis_line_frac"] > 0.3
    assert out[6]["keep"] == 0 and out[6]["alpha_word_frac"] < 0.8
    assert out[3]["n_required_hits"] == 0


def test_gopher_quality_thresholds_are_parameters(spark):
    docs = _docs(spark, [(1, "five words is too few")])
    # default floor (50 words) rejects; word-count relaxed alone still
    # fails the required-words rule ("too" is not "to"); relaxing both
    # flips the doc to keep=1
    assert text.gopher_quality(docs).collect()[0]["keep"] == 0
    relaxed = text.gopher_quality(docs, min_words=3).collect()[0]
    assert relaxed["keep"] == 0 and relaxed["n_required_hits"] == 0
    assert (
        text.gopher_quality(docs, min_words=3, min_required_hits=0)
        .collect()[0]["keep"]
        == 1
    )


# --------------------------------------------------------------------------
# Bloom-filter decontamination
# --------------------------------------------------------------------------


def test_bloom_decontaminate_no_false_negatives(spark):
    """Every doc the exact screen flags, the Bloom screen must flag
    (the guarantee a decontamination pass cannot lose); maybe-hit
    counts dominate exact hit counts per doc."""
    docs = _docs(
        spark,
        [(i, f"alpha beta gamma doc{i} filler words here and there") for i in range(12)]
        + [(100, "totally disjoint benchmark content row")],
    )
    bench = docs.filter(F.col("doc_id").isin([0, 100]))
    exact = {
        r["doc_id"]: r for r in dedup.decontaminate(docs, bench, k=3).collect()
    }
    bmp = dedup.bloom_bitmap(bench, m_bits=1 << 16, k_hashes=4, shingle_k=3)
    bloom = {
        r["doc_id"]: r
        for r in dedup.decontaminate_bloom(
            docs, bmp, m_bits=1 << 16, k_hashes=4, shingle_k=3
        ).collect()
    }
    assert set(bloom) == set(exact)
    for did, ex in exact.items():
        bl = bloom[did]
        assert bl["n_shingles"] == ex["n_shingles"]
        assert bl["n_maybe_hits"] >= ex["n_hits"], did
        if ex["contaminated"]:
            assert bl["contaminated"] == 1, did
    # benchmark members flag themselves (all their shingles are in the set)
    assert bloom[0]["n_maybe_hits"] == bloom[0]["n_shingles"]
    assert bloom[100]["contaminated"] == 1


def test_bloom_bitmap_signed_packing_roundtrip(spark):
    """Positions landing on bit 63 of a word must survive the
    signed-long packing (array<bigint> cannot hold 2^63 unsigned)."""
    bench = _docs(spark, [(1, "aa bb cc dd ee ff gg hh ii jj kk ll")])
    m = 1 << 12
    words = dedup.bloom_bitmap(bench, m_bits=m, k_hashes=6, shingle_k=2)
    assert len(words) == m // 64
    assert all(-(1 << 63) <= w < (1 << 63) for w in words)
    # the benchmark screens clean against itself: every shingle maybe-hits
    out = dedup.decontaminate_bloom(
        bench, words, m_bits=m, k_hashes=6, shingle_k=2
    ).collect()[0]
    assert out["n_maybe_hits"] == out["n_shingles"]


# --------------------------------------------------------------------------
# tf-idf top terms
# --------------------------------------------------------------------------


def test_tfidf_rare_term_outranks_ubiquitous(spark):
    import math

    docs = _docs(
        spark,
        [
            (1, "shared shared zebra"),   # zebra only here
            (2, "shared other words"),
            (3, "shared more words"),
        ],
    )
    got = {
        (r["doc_id"], r["rk"]): r
        for r in text.tfidf_top_terms(docs, k=2).collect()
    }
    top1 = got[(1, 1)]
    # 'shared' has tf=2 in doc 1 but df=3 -> idf ln(4/4)=0; 'zebra' wins
    assert top1["term"] == "zebra" and top1["df"] == 1
    assert abs(top1["tfidf"] - round(1 * math.log(4 / 2), 6)) < 1e-9
    # ubiquitous term scores exactly zero
    shared_rows = [r for r in got.values() if r["term"] == "shared"]
    assert shared_rows and all(r["tfidf"] == 0.0 for r in shared_rows)


def test_tfidf_ties_break_alphabetically(spark):
    docs = _docs(spark, [(1, "bb aa"), (2, "cc dd")])
    got = [
        r["term"]
        for r in text.tfidf_top_terms(docs, k=2)
        .filter(F.col("doc_id") == 1)
        .orderBy("rk")
        .collect()
    ]
    assert got == ["aa", "bb"]  # equal tfidf -> alphabetical


# --------------------------------------------------------------------------
# corpus stats
# --------------------------------------------------------------------------


def test_corpus_stats_exact_percentiles(spark):
    rows = [
        (i, " ".join(["w"] * n), "en", "web")
        for i, n in enumerate([1, 2, 3, 10])
    ] + [(9, "a b", "de", "books")]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    got = {r["source"]: r for r in text.corpus_stats(docs).collect()}
    web = got["web"]
    assert web["n_docs"] == 4 and web["total_tokens"] == 16
    assert web["mean_tokens"] == 4.0
    assert web["median_tokens"] == 2.5       # interpolated between 2 and 3
    assert web["p90_tokens"] == 7.9          # 3 + 0.7*(10-3)
    assert web["n_langs"] == 1
    assert got["books"]["n_docs"] == 1 and got["books"]["total_tokens"] == 2


# --------------------------------------------------------------------------
# NULL-text contract: null ≡ empty string at the normalized() choke point
# --------------------------------------------------------------------------


def test_null_text_behaves_as_empty(spark):
    paired = spark.createDataFrame(
        [(1, None), (2, "")], "doc_id long, text string"
    )
    # dedup: null and empty land in the SAME group (one keeper)
    groups = dedup.exact_dedup(paired).collect()
    assert len(groups) == 1 and groups[0]["n_copies"] == 2

    # gopher: identical signals for the null row and the empty row
    rows = {r["doc_id"]: r.asDict() for r in text.gopher_quality(paired).collect()}
    a, b = rows[1], rows[2]
    a.pop("doc_id"), b.pop("doc_id")
    assert a == b
    assert a["keep"] == 0 and a["symbol_ratio"] is not None

    # quality scores stay defined (no NULL arithmetic leaking through)
    q = {r["doc_id"]: r.asDict() for r in text.quality_scores(paired).collect()}
    a, b = q[1], q[2]
    a.pop("doc_id"), b.pop("doc_id")
    assert a == b
    assert a["n_chars"] == 0 and a["n_words"] == 1


# --------------------------------------------------------------------------
# exact-k stratified sampling
# --------------------------------------------------------------------------


def test_sample_exact_k_budget_and_determinism(spark):
    rows = [
        (i, f"t{i}", "big" if i < 40 else "small") for i in range(45)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = text.sample_exact_k(docs, k=5).toPandas()
    by_src = got.groupby("source")["doc_id"].count().to_dict()
    assert by_src == {"big": 5, "small": 5}
    # small domain (5 members) survives whole
    assert set(got[got.source == "small"].doc_id) == set(range(40, 45))
    # deterministic across re-runs
    again = text.sample_exact_k(docs, k=5).toPandas()
    assert sorted(got.doc_id) == sorted(again.doc_id)
    # different seed -> (almost surely) different big-domain picks
    other = text.sample_exact_k(docs, k=5, seed="sample-v2").toPandas()
    assert sorted(other[other.source == "big"].doc_id) != sorted(
        got[got.source == "big"].doc_id
    )


# --------------------------------------------------------------------------
# hashing-trick linear classifier
# --------------------------------------------------------------------------


def test_classifier_score_known_weights(spark):
    import math
    import hashlib

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha"), (3, None)],
        "doc_id long, text string",
    )
    dim, seed = 8, "t-v1"
    weights = [float(i) / 10 for i in range(dim)]

    def bucket(tok):
        return int(hashlib.md5(f"{seed}:{tok}".encode()).hexdigest()[:8], 16) % dim

    def expect(toks):
        z = sum(weights[bucket(t)] for t in toks)
        return round(1.0 / (1.0 + math.exp(-z)), 6)

    got = {
        r["doc_id"]: (r["clf_score"], r["keep"])
        for r in text.classifier_score(docs, weights, seed=seed).collect()
    }
    assert got[1][0] == expect(["alpha", "beta"])
    assert got[2][0] == expect(["alpha"])
    # NULL text ≡ empty ⇒ one empty token (normalized() contract)
    assert got[3][0] == expect([""])
    # keep flag thresholds the UNROUNDED score at 0.5
    assert all(keep == (score >= 0.5) for score, keep in got.values())


def test_classifier_default_weights_deterministic_and_bounded(spark):
    w1 = text.default_classifier_weights(64)
    w2 = text.default_classifier_weights(64)
    assert w1 == w2 and len(w1) == 64
    assert all(-0.5 <= w < 0.5 for w in w1)
    # a different seed re-draws the table
    assert text.default_classifier_weights(64, "other") != w1


def test_classifier_plan_is_narrow(spark):
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = text.classifier_score(
        docs, text.default_classifier_weights(16)
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure projection — no shuffle at any scale


# --------------------------------------------------------------------------
# best-fit-decreasing no-straddle packing
# --------------------------------------------------------------------------


def _bfd_reference(lengths, seq_tokens):
    """Sequential reference: (index -> (seq_id, offset)) for pre-sorted
    (n_tokens DESC, tiebreak by position) items, linear best-fit scan."""
    bins = []  # seq_id -> remaining
    out = []
    for nt in lengths:
        if nt >= seq_tokens:
            out.append((len(bins), 0))
            bins.append(0)
            continue
        best = None
        for sid, rem in enumerate(bins):
            if rem >= nt and (best is None or rem < bins[best]):
                best = sid
        if best is None:
            out.append((len(bins), 0))
            bins.append(seq_tokens - nt)
        else:
            out.append((best, seq_tokens - bins[best]))
            bins[best] -= nt
    return out


def test_pack_bfd_matches_sequential_reference(spark):
    rows = [
        (i, 0, "train", ln)
        for i, ln in enumerate([900, 700, 700, 500, 400, 300, 200, 128, 64, 2048, 3000])
    ]
    chunks = spark.createDataFrame(
        rows, "doc_id long, chunk_id long, split string, n_tokens long"
    )
    got = (
        text.pack_sequences_bfd(chunks, seq_tokens=1024, n_shards=1)
        .toPandas()
        .sort_values(["n_tokens", "doc_id", "chunk_id"], ascending=[False, True, True])
        .reset_index(drop=True)
    )
    exp = _bfd_reference(got["n_tokens"].tolist(), 1024)
    assert list(zip(got["seq_id"], got["seq_offset"])) == exp


def test_pack_bfd_never_straddles_and_beats_headtail_waste(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    lens = rng.choice([64, 128, 256, 300, 511, 700, 1000], size=400)
    rows = [(int(i), 0, "train", int(ln)) for i, ln in enumerate(lens)]
    chunks = spark.createDataFrame(
        rows, "doc_id long, chunk_id long, split string, n_tokens long"
    )
    seq_tokens = 1024
    got = text.pack_sequences_bfd(chunks, seq_tokens=seq_tokens, n_shards=4).toPandas()
    # invariant: every chunk fits whole inside its sequence
    assert ((got.seq_offset + got.n_tokens) <= seq_tokens).all()
    # every (shard, seq) stays within budget
    used = got.groupby(["shard", "seq_id"]).n_tokens.sum()
    assert (used <= seq_tokens).all()
    # BFD bin count per shard <= arrival-order first-fit-no-sort bin count
    for shard, g in got.groupby("shard"):
        arrival = g.sort_values(["doc_id", "chunk_id"]).n_tokens.tolist()
        ff_bins, rems = 0, []
        for nt in arrival:
            placed = False
            for j, r in enumerate(rems):
                if r >= nt:
                    rems[j] -= nt
                    placed = True
                    break
            if not placed:
                rems.append(seq_tokens - nt)
                ff_bins += 1
        assert g.seq_id.nunique() <= ff_bins


def test_pack_bfd_deterministic_across_partitioning(spark):
    rows = [(i, j, "train" if i % 3 else "val", 100 + 37 * ((i * 7 + j) % 20))
            for i in range(60) for j in range(3)]
    chunks = spark.createDataFrame(
        rows, "doc_id long, chunk_id long, split string, n_tokens long"
    )
    a = text.pack_sequences_bfd(chunks, seq_tokens=512).toPandas()
    b = text.pack_sequences_bfd(chunks.repartition(13), seq_tokens=512).toPandas()
    key = ["doc_id", "chunk_id"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    assert a.equals(b)


# --------------------------------------------------------------------------
# incremental (shipment-over-history) dedup
# --------------------------------------------------------------------------


def test_incremental_dedup_drops_history_and_intra_batch(spark):
    history = spark.createDataFrame(
        [(1, "seen before"), (2, "also seen")], "doc_id long, text string"
    )
    shipment = spark.createDataFrame(
        [
            (10, "Seen   BEFORE"),   # normalizes to a history hash -> dropped
            (11, "brand new"),
            (12, "brand new"),       # intra-shipment dup -> min doc_id kept
            (13, "also new"),
        ],
        "doc_id long, text string",
    )
    seen = dedup.exact_dedup(history).select("text_hash")
    got = sorted(
        r["doc_id"]
        for r in dedup.incremental_exact_dedup(shipment, seen).collect()
    )
    assert got == [11, 13]


def test_incremental_hashes_roll_forward(spark):
    history = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    shipment = spark.createDataFrame(
        [(2, "a"), (3, "b")], "doc_id long, text string"
    )
    seen0 = dedup.exact_dedup(history).select("text_hash")
    seen1 = dedup.incremental_hashes(seen0, shipment)
    assert seen1.count() == 2  # {'a','b'} — union-distinct
    # a second identical shipment now fully dedups away
    assert dedup.incremental_exact_dedup(shipment, seen1).count() == 0


def test_incremental_equals_batch_dedup_composition(spark):
    """History + shipment incrementally == the full-batch keeper set
    restricted to shipment rows whose text is NOT in history."""
    rows = [(i, f"text {i % 7}") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    history = docs.filter(F.col("doc_id") < 10)
    shipment = docs.filter(F.col("doc_id") >= 10)
    seen = dedup.exact_dedup(history).select("text_hash")
    inc = {r["doc_id"] for r in dedup.incremental_exact_dedup(shipment, seen).collect()}
    # every text 0..6 already appears in history (doc_ids 0..9 cover i%7)
    assert inc == set()


# --------------------------------------------------------------------------
# token-budget mixture sampling
# --------------------------------------------------------------------------


def test_mix_by_budget_prefix_cut_and_monotonicity(spark):
    rows = [(i, "w " * (10 * (i % 3 + 1)), "a" if i < 30 else "b") for i in range(50)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    small = text.mix_by_budget(docs, {"a": 100, "b": 50}).toPandas()
    # budget respected per domain
    totals = small.groupby("source").n_tokens.sum().to_dict()
    assert totals.get("a", 0) <= 100 and totals.get("b", 0) <= 50
    # bigger budget => strict superset (monotone prefix cut)
    big = text.mix_by_budget(docs, {"a": 300, "b": 200}).toPandas()
    assert set(small.doc_id) <= set(big.doc_id)
    # deterministic across re-runs
    again = text.mix_by_budget(docs, {"a": 100, "b": 50}).toPandas()
    assert sorted(again.doc_id) == sorted(small.doc_id)
    # domains without a budget vanish
    assert set(small.source) <= {"a", "b"}


def test_mix_by_budget_drops_unbudgeted_domains(spark):
    docs = spark.createDataFrame(
        [(1, "x y z", "keep"), (2, "x y z", "drop")],
        "doc_id long, text string, source string",
    )
    got = text.mix_by_budget(docs, {"keep": 100}).toPandas()
    assert got.source.tolist() == ["keep"]


# --------------------------------------------------------------------------
# quality-based cluster representatives
# --------------------------------------------------------------------------


def test_cluster_representatives_max_score_min_id_ties(spark):
    clusters = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 40), (5, 40)],
        "doc_id long, cluster_id long",
    )
    docs = spark.createDataFrame(
        [(1, 100), (2, 300), (3, 300), (4, 50), (5, 50)],
        "doc_id long, n_chars long",
    )
    got = {
        r["cluster_id"]: (r["rep_doc_id"], r["rep_score"], r["n_members"])
        for r in dedup.cluster_representatives(clusters, docs).collect()
    }
    # cluster 10: 2 and 3 tie on score 300 -> smallest id (2) wins
    assert got[10] == (2, 300, 3)
    # cluster 40: 4 and 5 tie on 50 -> 4
    assert got[40] == (4, 50, 2)


# --------------------------------------------------------------------------
# winnowing fingerprints
# --------------------------------------------------------------------------


def test_winnow_guarantee_shared_run_shares_fingerprint(spark):
    """The winnowing theorem: two docs sharing a run of
    >= window+k-1 words MUST share at least one fingerprint."""
    k, w = 4, 4
    shared = "alpha beta gamma delta epsilon zeta eta"  # 7 = w+k-1 words
    docs = _docs(
        spark,
        [
            (1, f"unrelated prefix words here {shared} and a suffix"),
            (2, f"{shared} totally different continuation text follows now"),
            (3, "no overlap with anything else at all whatsoever"),
        ],
    )
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in text.winnow_overlap_pairs(docs, min_shared=1, k=k, window=w).collect()
    }
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_winnow_density_is_sparser_than_full_shingles(spark):
    rows = [(i, " ".join(f"w{(i * 31 + j * 7) % 97}" for j in range(120)))
            for i in range(20)]
    docs = _docs(spark, rows)
    n_fps = text.winnow_fingerprints(docs, k=4, window=4).count()
    n_grams = 20 * (120 - 4 + 1)
    # expected density ~2/(w+1) = 0.4; allow generous slack
    assert n_fps < 0.6 * n_grams
    assert n_fps > 0.1 * n_grams


def test_winnow_short_doc_single_fingerprint(spark):
    docs = _docs(spark, [(1, "tiny doc"), (2, None)])
    got = text.winnow_fingerprints(docs, k=4, window=4).groupBy("doc_id").count()
    assert {r["doc_id"]: r["count"] for r in got.collect()} == {1: 1, 2: 1}


# --------------------------------------------------------------------------
# percentile-threshold gate
# --------------------------------------------------------------------------


def test_keep_top_fraction_counts_and_ordering(spark):
    import pytest as _pytest

    rows = [(i, float(i)) for i in range(100)]
    scored = spark.createDataFrame(rows, "doc_id long, clf_score double")
    top = text.keep_top_fraction(scored, 0.2)
    got = sorted(r["doc_id"] for r in top.collect())
    # exact percentile at 0.8 of 0..99 = 79.2 -> keep scores >= 79.2
    assert got == list(range(80, 100))
    # frac=1.0 keeps everything
    assert text.keep_top_fraction(scored, 1.0).count() == 100
    with _pytest.raises(ValueError):
        text.keep_top_fraction(scored, 0.0)


# --------------------------------------------------------------------------
# SemDeDup-style semantic dedup (cluster-bounded pair search)
# --------------------------------------------------------------------------


def test_semantic_dedup_drops_higher_id_within_cluster(spark):
    # two tight groups along orthogonal axes: near-identical vectors in a
    # group must land in one cluster and dedup down to the min id; the
    # cross-group cosine is 0 so nothing dedups across groups.
    # ids 1 and 2 are in DIFFERENT groups on purpose: the deterministic
    # quantizer seeds on the first k ids, so the seeds start one per group
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.0, 0.0, 1.0, 0.0]),
            (3, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 1
            (4, [0.0, 0.01, 0.999, 0.0]),   # near-dup of 2
        ],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: r.asDict()
        for r in dedup.semantic_dedup(emb, k=2, iters=1, eps=0.95).collect()
    }
    assert got[1]["kept"] == 1 and got[3]["kept"] == 0
    assert got[2]["kept"] == 1 and got[4]["kept"] == 0
    assert got[1]["cluster"] == got[3]["cluster"]
    assert got[2]["cluster"] == got[4]["cluster"]
    assert got[1]["cluster"] != got[2]["cluster"]


def test_semantic_dedup_no_pairs_below_eps(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    rows = dedup.semantic_dedup(emb, k=2, iters=1, eps=0.9).collect()
    assert all(r["kept"] == 1 for r in rows)


# --------------------------------------------------------------------------
# bigram LM fluency scoring
# --------------------------------------------------------------------------


def test_bigram_lm_repeated_pattern_scores_lower_nll(spark):
    # a document made of one repeated bigram is maximally predictable
    # under the corpus model; a document of all-unique bigrams is not.
    docs = _docs(
        spark,
        [
            (1, "ab ab ab ab ab ab ab ab"),
            (2, "one two three four five six seven eight"),
        ],
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in text.bigram_lm_scores(docs).collect()
    }
    assert got[1]["n_bigrams"] == 7 and got[2]["n_bigrams"] == 7
    assert got[1]["avg_nll"] < got[2]["avg_nll"]
    assert got[1]["ppl"] < got[2]["ppl"]


def test_bigram_lm_short_and_null_docs_carry_zero(spark):
    docs = _docs(spark, [(1, "solo"), (2, None), (3, "a b a b")])
    got = {
        r["doc_id"]: r.asDict()
        for r in text.bigram_lm_scores(docs).collect()
    }
    assert got[1]["n_bigrams"] == 0 and got[1]["avg_nll"] is None
    assert got[2]["n_bigrams"] == 0 and got[2]["ppl"] is None
    assert got[3]["n_bigrams"] == 3 and got[3]["avg_nll"] is not None


# --------------------------------------------------------------------------
# boilerplate removal (frequency-form segment dedup)
# --------------------------------------------------------------------------


def test_drop_boilerplate_removes_from_every_doc(spark):
    # "one two three four" appears in docs 1 AND 2 -> boilerplate,
    # dropped from BOTH (unlike segment_dedup, which keeps the first)
    docs = _docs(
        spark,
        [
            (1, "one two three four alpha beta gamma delta"),
            (2, "one two three four epsilon zeta eta theta"),
            (3, "iota kappa lambda mu nu xi omicron pi"),
        ],
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in dedup.drop_boilerplate(docs, seg_words=4, min_df=2).collect()
    }
    assert got[1]["clean_text"] == "alpha beta gamma delta"
    assert got[2]["clean_text"] == "epsilon zeta eta theta"
    assert got[3]["clean_text"] == "iota kappa lambda mu nu xi omicron pi"
    assert got[1]["n_segments"] == 2 and got[1]["n_kept"] == 1


def test_drop_boilerplate_pure_boilerplate_doc_survives_empty(spark):
    docs = _docs(
        spark,
        [
            (1, "same old header line"),
            (2, "same old header line"),
        ],
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in dedup.drop_boilerplate(docs, seg_words=4, min_df=2).collect()
    }
    assert len(got) == 2
    assert all(v["n_kept"] == 0 and v["clean_text"] == "" for v in got.values())


# --------------------------------------------------------------------------
# mixture interleaving (stride-scheduled training order)
# --------------------------------------------------------------------------


def test_interleave_sources_proportional_prefix(spark):
    rows = [
        (i, f"t{i}", "heavy" if i % 2 == 0 else "light") for i in range(400)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    out = text.interleave_sources(docs, {"heavy": 4.0, "light": 1.0})
    pdf = out.toPandas().sort_values("order_key").reset_index(drop=True)
    head = pdf.head(100)
    frac_heavy = (head.source == "heavy").mean()
    # weight 4:1 over equal-size pools => ~80% of the early order is the
    # heavy source (hash-uniform draw; wide tolerance, deterministic)
    assert frac_heavy > 0.6
    # deterministic: identical on re-run
    pdf2 = out.toPandas().sort_values("order_key").reset_index(drop=True)
    assert list(pdf.doc_id) == list(pdf2.doc_id)


def test_interleave_sources_unknown_source_weight_one(spark):
    docs = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y")], "doc_id long, text string, source string"
    )
    out = {r.doc_id: r.order_key for r in
           text.interleave_sources(docs, {"x": 2.0}).collect()}
    assert 0 <= out[2] <= 1.0         # unknown source: plain uniform
    assert 0 <= out[1] <= 0.5         # weight 2 halves the key range


# --------------------------------------------------------------------------
# intra-document repetition removal (pure array fold)
# --------------------------------------------------------------------------


def test_dedup_within_doc_keeps_first_occurrence(spark):
    docs = _docs(
        spark,
        [
            (1, "aa bb cc dd aa bb cc dd ee ff gg hh"),  # seg repeated
            (2, "one two three four five six seven eight"),
        ],
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in text.dedup_within_doc(docs, seg_words=4).collect()
    }
    assert got[1]["n_segments"] == 3 and got[1]["n_kept"] == 2
    assert got[1]["clean_text"] == "aa bb cc dd ee ff gg hh"
    assert got[2]["n_kept"] == 2
    assert got[2]["clean_text"] == "one two three four five six seven eight"


def test_dedup_within_doc_is_narrow_plan(spark):
    docs = _docs(spark, [(1, "a b c")])
    plan = (
        text.dedup_within_doc(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # spread() repartitions once in local mode (REPARTITION_BY_NUM);
    # the dedup itself must add NO further Exchange — the fold is a
    # pure projection
    assert plan.count("Exchange") <= 1
    assert "REPARTITION_BY_NUM" in plan or "Exchange" not in plan


# --------------------------------------------------------------------------
# split-leakage report (eval hygiene)
# --------------------------------------------------------------------------


def test_split_leakage_flags_cross_split_near_dups(spark):
    base = ("the quick brown fox jumps over the lazy dog while the band "
            "plays a slow tune and the crowd watches in silence")
    near = base.replace("slow", "fast")
    rows = [(i, base if i % 2 == 0 else near) for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    rep = text.split_leakage_report(docs, val_pct=30, jaccard_threshold=0.5)
    pdf = rep.toPandas()
    assert len(pdf) > 0
    # every pair's leak flag equals the endpoint-split comparison
    assert ((pdf.split_a != pdf.split_b) == (pdf.leaks == 1)).all()
    # with 40 heavy near-dups and a 30% split, some pair must straddle
    assert pdf.leaks.sum() > 0
    # and the split columns carry only the two legal values
    assert set(pdf.split_a) | set(pdf.split_b) <= {"train", "val"}


# --------------------------------------------------------------------------
# vocabulary drift (snapshot QA)
# --------------------------------------------------------------------------


def test_vocab_drift_zero_for_identical_and_positive_for_disjoint(spark):
    a = _docs(spark, [(1, "alpha beta gamma"), (2, "alpha beta delta")])
    same = _docs(spark, [(3, "alpha beta gamma"), (4, "alpha beta delta")])
    other = _docs(spark, [(5, "omega psi chi"), (6, "omega psi phi")])
    r_same = text.vocab_drift(a, same).collect()[0]
    assert r_same.kl_ab == 0.0 and r_same.js == 0.0
    r_diff = text.vocab_drift(a, other).collect()[0]
    assert r_diff.kl_ab > 0 and r_diff.js > 0
    # JS is symmetric and bounded by ln 2
    r_rev = text.vocab_drift(other, a).collect()[0]
    assert abs(r_rev.js - r_diff.js) < 1e-9
    import math
    assert r_diff.js <= math.log(2) + 1e-9


# --------------------------------------------------------------------------
# weighted sampling (A-ES priorities)
# --------------------------------------------------------------------------


def test_weighted_sample_skews_toward_heavy_weights(spark):
    rows = [(i, f"t{i}", 100.0 if i < 50 else 1.0) for i in range(500)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, w double")
    got = [r.doc_id for r in text.weighted_sample_k(docs, 50, "w").collect()]
    assert len(got) == 50
    heavy = sum(1 for d in got if d < 50)
    # 50 heavy docs at weight 100 vs 450 light at weight 1: the sample
    # must be dominated by heavy docs (deterministic given the seed)
    assert heavy > 30
    # deterministic re-run
    again = [r.doc_id for r in text.weighted_sample_k(docs, 50, "w").collect()]
    assert got == again


def test_weighted_sample_excludes_nonpositive_and_caps_k(spark):
    docs = spark.createDataFrame(
        [(1, "a", 0.0), (2, "b", -1.0), (3, "c", 2.0), (4, "d", 1.0)],
        "doc_id long, text string, w double",
    )
    got = {r.doc_id for r in text.weighted_sample_k(docs, 10, "w").collect()}
    assert got == {3, 4}


def test_weighted_sample_plan_is_take_ordered(spark):
    docs = spark.createDataFrame(
        [(i, "t", 1.0) for i in range(10)], "doc_id long, text string, w double"
    )
    plan = (
        text.weighted_sample_k(docs, 3, "w")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan  # no global sort


# --------------------------------------------------------------------------
# fused quality profile (operator fusion: 4 signals, one scan)
# --------------------------------------------------------------------------


def test_quality_profile_single_scan_no_exchange(spark, tmp_path):
    p = str(tmp_path / "docs")
    _docs(spark, [(1, "the quick brown fox"), (2, "le chat et le chien")]
          ).write.parquet(p)
    docs = spark.read.parquet(p)
    plan = (
        text.quality_profile(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Scan parquet") == 1
    assert "Exchange" not in plan


def test_quality_profile_matches_standalone_operators(spark):
    docs = _docs(
        spark,
        [(1, "the quick brown fox jumps... over, the lazy dog the end"),
         (2, "der hund und die katze und der hund"),
         (3, "solo")],
    )
    prof = {r.doc_id: r.asDict() for r in text.quality_profile(docs).collect()}
    q = {r.doc_id: r.asDict() for r in text.quality_scores(docs).collect()}
    lang = {r.doc_id: r.pred_lang for r in text.language_id(docs).collect()}
    rep = {r.doc_id: r.asDict() for r in text.repetition_scores(docs).collect()}
    tok = {r.doc_id: r.n_bpe_ish_tokens for r in text.token_counts(docs).collect()}
    for d in (1, 2, 3):
        for c in ("n_chars", "n_words", "avg_word_len", "punct_ratio",
                  "stopword_ratio"):
            assert prof[d][c] == q[d][c], (d, c)
        assert prof[d]["pred_lang"] == lang[d]
        for c in ("n_grams_2", "n_dup_2", "dup_frac_2"):
            assert prof[d][c] == rep[d][c], (d, c)
        assert prof[d]["n_bpe_ish_tokens"] == tok[d]


# --------------------------------------------------------------------------
# PMI collocations
# --------------------------------------------------------------------------


def test_pmi_finds_planted_collocation(spark):
    # "san francisco" always adjacent and exclusive; "the" is everywhere
    rows = []
    for i in range(30):
        rows.append((i, "the city of san francisco by the bay the fog"))
    for i in range(30, 60):
        rows.append((i, "the dog ate the food near the door the end"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = text.pmi_top_pairs(docs, k=10, min_count=5).collect()
    pairs = [(r.w1, r.w2) for r in got]
    # every exclusive low-frequency pair ties at the max PMI; the
    # planted one must be among them and must beat every pair touching
    # the ubiquitous 'the'
    assert ("san", "francisco") in pairs
    pmis = {(r.w1, r.w2): r.pmi for r in got}
    for p in pairs:
        if "the" in p:
            assert pmis[("san", "francisco")] > pmis[p]
    ranks = {(r.w1, r.w2): r.rk for r in got}
    assert sorted(ranks.values()) == list(range(1, len(got) + 1))


# --------------------------------------------------------------------------
# length stratification (percentile cutpoints, no ntile)
# --------------------------------------------------------------------------


def test_length_strata_balanced_and_monotone(spark):
    rows = [(i, " ".join(["w"] * (i + 1))) for i in range(100)]  # 1..100 words
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.asDict() for r in text.length_strata(docs, 4).collect()}
    from collections import Counter
    sizes = Counter(v["stratum"] for v in got.values())
    assert set(sizes) == {0, 1, 2, 3}
    assert all(20 <= c <= 30 for c in sizes.values())  # near-equal quarters
    # monotone: longer doc never lands in a lower stratum
    ordered = sorted(got.values(), key=lambda v: v["n_words"])
    strata = [v["stratum"] for v in ordered]
    assert strata == sorted(strata)

    plan = text.length_strata(docs, 4)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan  # cutpoint aggregate, never an ntile window


def test_trigram_lm_interpolation_orders_fluency(spark):
    docs = _docs(
        spark,
        [
            (1, "ab cd ef ab cd ef ab cd ef ab cd ef"),  # repeated trigram
            (2, "one two three four five six seven eight nine ten"),
            (3, "tiny doc"),  # < 3 tokens
        ],
    )
    got = {r.doc_id: r.asDict() for r in text.trigram_lm_scores(docs).collect()}
    assert got[1]["n_trigrams"] == 10 and got[2]["n_trigrams"] == 8
    assert got[1]["avg_nll"] < got[2]["avg_nll"]
    assert got[3]["n_trigrams"] == 0 and got[3]["ppl"] is None


def test_char_entropy_known_values(spark):
    import math
    docs = _docs(spark, [
        (1, "aaaa"),        # one symbol -> 0 bits
        (2, "abab"),        # two equiprobable -> 1 bit
        (3, "abcd"),        # four equiprobable -> 2 bits
        (4, None),          # NULL ≡ empty
    ])
    got = {r.doc_id: r.asDict() for r in text.char_entropy(docs).collect()}
    assert got[1]["entropy_bits"] == 0.0
    assert abs(got[2]["entropy_bits"] - 1.0) < 1e-9
    assert abs(got[3]["entropy_bits"] - 2.0) < 1e-9
    assert got[4]["n_chars"] == 0 and got[4]["entropy_bits"] is None
    # English-ish text sits well above single-char spam
    docs2 = _docs(spark, [(1, "the quick brown fox jumps over the lazy dog")])
    e = text.char_entropy(docs2).collect()[0]["entropy_bits"]
    assert 3.5 < e < 5.0


def test_ngram_novelty_extremes(spark):
    shared = "the quick brown fox jumps over the lazy dog"
    docs = _docs(spark, [
        (1, shared),
        (2, shared),                                  # exact dup: novelty 0
        (3, "entirely original writing nobody copied ever before now"),
    ])
    got = {r.doc_id: r.asDict() for r in text.ngram_novelty(docs).collect()}
    assert got[1]["novelty"] == 0.0 and got[2]["novelty"] == 0.0
    assert got[3]["novelty"] == 1.0


def test_incremental_near_dedup_across_shipments(spark):
    base = ("the quick brown fox jumps over the lazy dog while the band "
            "plays a slow tune in the quiet town")
    near = base.replace("slow", "fast")
    other = "completely different content about spark engines and shuffles"
    s1 = _docs(spark, [(1, base), (2, other)])
    empty_bands = spark.createDataFrame(
        [], "doc_id long, band int, band_sig string"
    )
    kept1, bands1 = dedup.incremental_near_dedup(s1, empty_bands)
    assert {r.doc_id for r in kept1.collect()} == {1, 2}
    # shipment 2: a near-dup of 1 (drops vs history), a fresh doc, and
    # an intra-shipment near-dup pair (5 drops, 4 stays)
    s2 = _docs(spark, [
        (3, near),
        (4, "brand new words never seen in any earlier shipment at all"),
        (5, "brand new words never seen in any earlier shipment at all!"),
    ])
    kept2, bands2 = dedup.incremental_near_dedup(s2, bands1)
    got = {r.doc_id for r in kept2.collect()}
    assert 3 not in got and 4 in got
    # rolling table holds bands for every KEPT doc only
    assert {r.doc_id for r in bands2.select("doc_id").distinct().collect()} \
        == {1, 2} | got


def test_bm25_ranks_exact_match_first(spark):
    docs = _docs(spark, [
        (1, "spark shuffle spark shuffle query plan"),   # all terms, high tf
        (2, "spark only here with many other filler words present today"),
        (3, "nothing relevant in this document at all whatsoever"),
        (4, "query query query query query query"),      # one term, high tf
    ])
    got = {r.doc_id: r.asDict() for r in
           text.bm25_search(docs, ["spark", "shuffle", "query"], k=3).collect()}
    assert 3 not in got                      # no query term -> unranked
    assert got[1]["rk"] == 1                 # covers all terms, short doc
    assert all(0 < v["score"] for v in got.values())
    ranks = sorted(v["rk"] for v in got.values())
    assert ranks == list(range(1, len(got) + 1))


def test_bm25_many_matches_single_query(spark):
    """A query's rows in a two-query table equal that query run alone:
    the other query's terms (one of them shared) change neither its df
    nor its scores nor its ranks."""
    docs = _docs(spark, [
        (1, "spark shuffle spark shuffle query plan"),
        (2, "spark only here with many other filler words present today"),
        (3, "query query join window merge sort"),
    ])
    q = spark.createDataFrame(
        [(7, "spark"), (7, "shuffle"), (8, "shuffle"), (8, "join")],
        "query_id int, term string",
    )
    many = {(r.query_id, r.doc_id): (r.score, r.rk)
            for r in text.bm25_search_many(docs, q, k=3).collect()}
    for qid, terms in ((7, ["spark", "shuffle"]), (8, ["shuffle", "join"])):
        alone = {r.doc_id: (r.score, r.rk)
                 for r in text.bm25_search(docs, terms, k=3).collect()}
        assert alone
        assert {d: v for (qq, d), v in many.items() if qq == qid} == alone


def test_keyword_contexts_windows_and_edges(spark):
    docs = _docs(spark, [
        (1, "alpha beta spark gamma delta"),
        (2, "spark starts and also ends with spark"),
        (3, "no match here"),
    ])
    got = [(r.doc_id, r.pos, r.context) for r in
           text.keyword_contexts(docs, "spark", window=2)
           .orderBy("doc_id", "pos").collect()]
    assert got == [
        (1, 3, "alpha beta spark gamma delta"),
        (2, 1, "spark starts and"),          # left edge clamps
        (2, 7, "ends with spark"),           # right edge clamps
    ]


def test_bigram_scoring_uses_context_count_for_unseen_continuations(spark):
    """True add-alpha smoothing: an unseen continuation of a KNOWN
    context must score p = alpha/(c(w1)+alpha*V) — STRICTLY less likely
    than the 1/V floor of a fully-unknown context (the old coalesce
    gave both 1/V, over-rewarding unseen bigrams in hot contexts)."""
    import math

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    train = spark.createDataFrame(
        [(0, "aa bb aa bb aa bb aa cc", "en", "s", 23)], schema
    )
    model = text.bigram_lm_model(train)
    alpha = 0.5
    # doc 1: "aa zz" — known context aa (c=4), unseen continuation zz
    # doc 2: "zz zz" — fully unknown context
    score = {
        r.doc_id: r.avg_nll
        for r in text.score_with_bigram_model(
            spark.createDataFrame(
                [(1, "aa zz", "en", "s", 5), (2, "zz zz", "en", "s", 5)],
                schema,
            ),
            model,
            alpha=alpha,
        ).collect()
    }
    vocab = 3  # aa, bb, cc
    want_known_ctx = -math.log(alpha / (4 + alpha * vocab))
    want_unknown_ctx = -math.log(alpha / (0 + alpha * vocab))
    assert abs(score[1] - round(want_known_ctx, 6)) < 1e-6
    assert abs(score[2] - round(want_unknown_ctx, 6)) < 1e-6
    assert score[1] > score[2]  # hot context, unseen next word = rarer event


def test_mix_by_temperature_limits(spark):
    """T=1 reproduces proportional budgets; large T approaches uniform;
    invalid params rejected."""
    import pytest as _pytest

    from process_alphafold3_outputs_spark.operators import text as t

    rows = [(i, "w " * 10, "big") for i in range(90)] + [
        (100 + i, "w " * 10, "small") for i in range(10)
    ]
    docs = spark.createDataFrame(
        [(i, s.strip(), "en", src, len(s)) for i, s, src in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    # corpus: big=900 tokens, small=100 tokens
    def budgets(temp):
        out = t.mix_by_temperature(docs, total_tokens=500, temperature=temp)
        return {
            r.source: r.budget
            for r in out.select("source", "budget").distinct().collect()
        }

    b1 = budgets(1.0)
    assert b1 == {"big": 450, "small": 50}  # proportional
    b100 = budgets(100.0)
    # near-uniform: both sources within a few tokens of 250
    assert abs(b100["big"] - 250) < 5 and abs(b100["small"] - 250) < 5
    assert b100["small"] > b1["small"]  # temperature up-weights the tail
    with _pytest.raises(ValueError):
        t.mix_by_temperature(docs, total_tokens=0)
    with _pytest.raises(ValueError):
        t.mix_by_temperature(docs, total_tokens=10, temperature=0)


# -- DSIR importance resampling (r7) ---------------------------------------

def test_dsir_target_equals_raw_gives_zero_weights(spark):
    from process_alphafold3_outputs_spark.operators.text import dsir_log_weights

    docs = spark.createDataFrame(
        [(1, "aa bb cc"), (2, "dd ee"), (3, "aa dd")],
        "doc_id long, text string",
    )
    out = dsir_log_weights(docs, docs, m_buckets=32).collect()
    assert all(r.log_weight == 0.0 for r in out)
    assert {r.doc_id: r.n_grams for r in out} == {1: 5, 2: 3, 3: 3}


def test_dsir_prefers_target_like_docs(spark):
    from process_alphafold3_outputs_spark.operators.text import dsir_log_weights

    target = spark.createDataFrame(
        [(100 + i, "the quick brown fox jumps") for i in range(5)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [(1, "the quick brown fox jumps"),
         (2, "zzz qqq www eee rrr")],
        "doc_id long, text string",
    )
    w = {r.doc_id: r.log_weight for r in
         dsir_log_weights(raw, target, m_buckets=64).collect()}
    assert w[1] > w[2]


def test_dsir_empty_doc_neutral_weight(spark):
    from process_alphafold3_outputs_spark.operators.text import dsir_log_weights

    raw = spark.createDataFrame(
        [(1, "aa bb"), (2, ""), (3, None)], "doc_id long, text string"
    )
    target = spark.createDataFrame([(9, "aa bb")], "doc_id long, text string")
    out = {r.doc_id: (r.n_grams, r.log_weight) for r in
           dsir_log_weights(raw, target, m_buckets=16).collect()}
    assert out[2] == (0, 0.0) and out[3] == (0, 0.0)
    assert out[1][0] == 3


def test_dsir_sample_deterministic_and_bounded(spark):
    from process_alphafold3_outputs_spark.operators.text import dsir_sample

    raw = spark.createDataFrame(
        [(i, f"tok{i % 7} common words here") for i in range(40)],
        "doc_id long, text string",
    )
    target = raw.limit(10)
    a = [(r.doc_id, r.score) for r in dsir_sample(raw, target, k=8).collect()]
    b = [(r.doc_id, r.score) for r in dsir_sample(raw, target, k=8).collect()]
    assert a == b and len(a) == 8
    scores = [s for _, s in a]
    assert scores == sorted(scores, reverse=True)


# -- packed-sequence document spans (r7) -------------------------------------

def _spans_fixture(spark):
    # one split/shard; chunk sizes chosen to straddle: 10+10+50 into
    # seq_tokens=16 sequences
    from process_alphafold3_outputs_spark.operators.text import (
        pack_sequences, packed_doc_spans,
    )
    from pyspark.sql import functions as F

    chunks = spark.createDataFrame(
        [(1, 0, 10, "train"), (2, 0, 10, "train"), (3, 0, 50, "train")],
        "doc_id long, chunk_id int, n_tokens long, split string",
    )
    packed = pack_sequences(
        chunks, seq_tokens=16, n_shards=1, keep_tokens=True
    )
    return packed_doc_spans(packed, seq_tokens=16)


def test_packed_doc_spans_resolve_straddles_exactly(spark):
    spans = _spans_fixture(spark).collect()
    got = sorted(
        (r.seq_id, r.doc_id, r.begin_tok, r.end_tok) for r in spans
    )
    # layout: doc1 [0,10), doc2 [10,20) -> seq0 [10,16) + seq1 [0,4),
    # doc3 [20,70) -> seq1 [4,16) + seq2/3 full + seq4 [0,6)
    assert got == [
        (0, 1, 0, 10),
        (0, 2, 10, 16),
        (1, 2, 0, 4),
        (1, 3, 4, 16),
        (2, 3, 0, 16),
        (3, 3, 0, 16),
        (4, 3, 0, 6),
    ]


def test_packed_doc_spans_properties(spark):
    # on real pipeline output: spans within a sequence are disjoint,
    # ordered, begin < end, and total span coverage == total chunk
    # tokens (nothing lost or duplicated by straddle resolution)
    from process_alphafold3_outputs_spark.operators.text import (
        chunk_documents, pack_sequences, packed_doc_spans, split_col,
    )
    from process_alphafold3_outputs_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    chunks = chunk_documents(docs, chunk_tokens=32, overlap=8).withColumn(
        "split", split_col(10)
    )
    packed = pack_sequences(chunks, seq_tokens=64, n_shards=2,
                            keep_tokens=True)
    spans = packed_doc_spans(packed, seq_tokens=64)
    total_chunk = packed.agg(F.sum("n_tokens")).collect()[0][0]
    total_span = spans.agg(
        F.sum(F.col("end_tok") - F.col("begin_tok"))
    ).collect()[0][0]
    assert total_span == total_chunk
    bad = spans.filter(
        (F.col("begin_tok") >= F.col("end_tok"))
        | (F.col("begin_tok") < 0) | (F.col("end_tok") > 64)
    ).count()
    assert bad == 0
    # disjointness: per sequence, sum of span lengths == max(end)-min(begin)
    # iff spans tile the covered range without overlap (pack is gapless)
    per_seq = spans.groupBy("split", "shard", "seq_id").agg(
        F.sum(F.col("end_tok") - F.col("begin_tok")).alias("covered"),
        (F.max("end_tok") - F.min("begin_tok")).alias("range_len"),
    )
    assert per_seq.filter(F.col("covered") != F.col("range_len")).count() == 0


def test_dsir_bucket_counts_merge_equals_union(spark):
    # the DSIR distribution table is a mergeable sketch: counts of a
    # union == per-bucket sum of shipment counts (so rolling pipelines
    # retrain ratios from merged state, never rescanning history)
    from process_alphafold3_outputs_spark.operators.text import (
        dsir_bucket_counts, dsir_log_weights, dsir_ratios_from_counts,
        dsir_score_with_ratios, merge_bucket_counts,
    )

    a = spark.createDataFrame(
        [(1, "aa bb cc"), (2, "dd ee")], "doc_id long, text string"
    )
    b = spark.createDataFrame(
        [(3, "aa dd"), (4, "ff gg hh")], "doc_id long, text string"
    )
    both = a.unionByName(b)
    merged = merge_bucket_counts(
        dsir_bucket_counts(a, m_buckets=32), dsir_bucket_counts(b, m_buckets=32)
    )
    direct = dsir_bucket_counts(both, m_buckets=32)
    assert {(r.bucket, r.cnt) for r in merged.collect()} == {
        (r.bucket, r.cnt) for r in direct.collect()
    }
    # ratios from merged counts == ratios trained directly on the union
    target = spark.createDataFrame([(9, "aa bb")], "doc_id long, text string")
    via_merge = dsir_score_with_ratios(
        both,
        dsir_ratios_from_counts(
            merged, dsir_bucket_counts(target, m_buckets=32), m_buckets=32
        ),
        m_buckets=32,
    )
    direct_w = dsir_log_weights(both, target, m_buckets=32)
    assert {(r.doc_id, r.log_weight) for r in via_merge.collect()} == {
        (r.doc_id, r.log_weight) for r in direct_w.collect()
    }


# --------------------------------------------------------------------------
# span-level exact-substring dedup (Lee et al. 2022)
# --------------------------------------------------------------------------


def test_duplicate_spans_marks_later_copies_only(spark):
    # doc 1 owns "a b c d e"; doc 2 embeds it mid-text → exactly the
    # embedded range [2, 7) is a span; doc 1 (first occurrence) is clean
    docs = _docs(
        spark,
        [
            (1, "a b c d e"),
            (2, "x y a b c d e z w q"),
        ],
    )
    spans = {
        r["doc_id"]: (r["begin"], r["end"])
        for r in dedup.duplicate_spans(docs, min_words=5).collect()
    }
    assert spans == {2: (2, 7)}


def test_duplicate_spans_merges_overlapping_windows(spark):
    # doc 2 repeats doc 1's full 7-word run: three 5-gram hits at pos
    # 1,2,3 merge into ONE maximal span [1, 8)
    docs = _docs(
        spark,
        [
            (1, "a b c d e f g"),
            (2, "x a b c d e f g y"),
        ],
    )
    spans = dedup.duplicate_spans(docs, min_words=5).collect()
    assert [(r["doc_id"], r["begin"], r["end"]) for r in spans] == [
        (2, 1, 8)
    ]


def test_strip_duplicate_spans_cuts_and_rebuilds(spark):
    docs = _docs(
        spark,
        [
            (1, "a b c d e"),
            (2, "x y a b c d e z w q"),
            (3, "short doc"),           # below the gram floor: untouched
            (4, "a b c d e"),           # whole doc duplicated → empty
        ],
    )
    out = {
        r["doc_id"]: r
        for r in dedup.strip_duplicate_spans(docs, min_words=5).collect()
    }
    assert out[1]["clean_text"] == "a b c d e" and out[1]["n_spans"] == 0
    assert out[2]["clean_text"] == "x y z w q"
    assert out[2]["n_dup_words"] == 5 and out[2]["n_spans"] == 1
    assert out[3]["clean_text"] == "short doc" and out[3]["n_spans"] == 0
    assert out[4]["clean_text"] == "" and out[4]["n_dup_words"] == 5
    assert all(r["n_words"] >= r["n_dup_words"] for r in out.values())


def test_strip_duplicate_spans_intra_doc_repetition(spark):
    # the SECOND copy inside one doc is a duplicate of the first
    docs = _docs(spark, [(1, "a b c d e k a b c d e")])
    out = dedup.strip_duplicate_spans(docs, min_words=5).collect()[0]
    assert out["clean_text"] == "a b c d e k"
    assert out["n_spans"] == 1 and out["n_dup_words"] == 5


def test_incremental_strip_substrings_vs_history_and_batch(spark):
    # history owns "a b c d e"; shipment doc 10 repeats it (cut vs
    # history), doc 11 introduces "p q r s t" (kept — first ever),
    # doc 12 repeats doc 11's run (cut WITHIN the shipment)
    hist_docs = _docs(spark, [(1, "a b c d e")])
    _, seen = dedup.incremental_strip_substrings(
        hist_docs, spark.createDataFrame([], "gh long"), min_words=5
    )
    ship = _docs(
        spark,
        [
            (10, "x a b c d e y"),
            (11, "p q r s t"),
            (12, "z p q r s t w"),
        ],
    )
    stripped, updated = dedup.incremental_strip_substrings(
        ship, seen, min_words=5
    )
    out = {r["doc_id"]: r for r in stripped.collect()}
    assert out[10]["clean_text"] == "x y"
    assert out[11]["clean_text"] == "p q r s t"
    assert out[12]["clean_text"] == "z w"
    # rolled state covers history + shipment grams
    n_hist = seen.count()
    assert updated.count() > n_hist
    # two-shipment run == one-shot batch on the union (same corpus
    # order: history doc_ids < shipment doc_ids)
    union = _docs(
        spark,
        [
            (1, "a b c d e"),
            (10, "x a b c d e y"),
            (11, "p q r s t"),
            (12, "z p q r s t w"),
        ],
    )
    batch = {
        r["doc_id"]: r["clean_text"]
        for r in dedup.strip_duplicate_spans(union, min_words=5).collect()
    }
    assert {d: r["clean_text"] for d, r in out.items()} == {
        d: t for d, t in batch.items() if d >= 10
    }


def test_contamination_spans_locate_benchmark_overlap(spark):
    docs = _docs(
        spark,
        [
            (1, "intro words here a b c d e closing words"),
            (2, "totally unrelated content with no overlap at all"),
        ],
    )
    bench = _docs(spark, [(100, "a b c d e")])
    spans = [
        (r["doc_id"], r["begin"], r["end"])
        for r in dedup.contamination_spans(docs, bench, min_words=5).collect()
    ]
    assert spans == [(1, 3, 8)]


def test_strip_contamination_cuts_only_overlap(spark):
    docs = _docs(
        spark,
        [
            (1, "intro words here a b c d e closing words"),
            (2, "clean doc stays whole no matter what"),
            (3, "a b c d e"),  # IS the benchmark item → strips empty
        ],
    )
    bench = _docs(spark, [(100, "a b c d e")])
    out = {
        r["doc_id"]: r
        for r in dedup.strip_contamination(docs, bench, min_words=5).collect()
    }
    assert out[1]["clean_text"] == "intro words here closing words"
    assert out[1]["n_spans"] == 1 and out[1]["n_dup_words"] == 5
    assert out[2]["clean_text"] == "clean doc stays whole no matter what"
    assert out[3]["clean_text"] == "" and out[3]["n_dup_words"] == 5


def test_train_quality_classifier_separates_seed_sources(spark):
    docs = spark.createDataFrame(
        [
            (
                i,
                (
                    "good clean prose flows here"
                    if i % 2 == 0
                    else "spam spam buy now click"
                )
                + f" tail{i % 3}",
                "hq" if i % 2 == 0 else "web",
            )
            for i in range(40)
        ],
        "doc_id long, text string, source string",
    )
    w, b = text.fit_quality_classifier(
        docs, F.col("source") == "hq", dim=16, iters=4, lr=2.0, seed="t"
    )
    scored = text.classifier_score(docs, weights=w, bias=b, seed="t").collect()
    pos = [r["clf_score"] for r in scored if r["doc_id"] % 2 == 0]
    neg = [r["clf_score"] for r in scored if r["doc_id"] % 2 == 1]
    assert min(pos) > max(neg)


def test_fit_quality_classifier_matches_python_reference(spark):
    """Loose-tolerance differential vs a sequential pure-Python GD
    implementing the same quantized updates (the BIT-exact check is the
    DuckDB oracle `text_classifier_train`)."""
    import hashlib
    import math

    rows = [
        (i, f"alpha beta w{i % 5} gamma" if i % 3 == 0 else f"delta w{i % 7}",
         1.0 if i % 3 == 0 else 0.0)
        for i in range(30)
    ]
    dim, iters, lr, seed, quant = 8, 3, 1.5, "dz", 1e9
    docs = spark.createDataFrame(
        [(i, t, "p" if y else "n") for i, t, y in rows],
        "doc_id long, text string, source string",
    )
    got_w, got_b = text.fit_quality_classifier(
        docs, F.col("source") == "p", dim=dim, iters=iters, lr=lr, seed=seed
    )

    def bucket(tok):
        return int(hashlib.md5(f"{seed}:{tok}".encode()).hexdigest()[:8], 16) % dim

    feats = []  # (doc, y, [(bucket, x)...] incl bias)
    for i, t, y in rows:
        toks = t.lower().split(" ")
        cnt: dict[int, int] = {}
        for tok in toks:
            cnt[bucket(tok)] = cnt.get(bucket(tok), 0) + 1
        f = {b: c / len(toks) for b, c in cnt.items()}
        f[-1] = 1.0
        feats.append((y, f))
    w = {b: 0.0 for b in range(-1, dim)}
    n = len(rows)
    for _ in range(iters):
        g = {b: 0 for b in range(-1, dim)}
        for y, f in feats:
            z = 0.0
            for b in sorted(f):
                z += f[b] * w[b]
            p = round(1.0 / (1.0 + math.exp(-z)), 9)
            for b, x in f.items():
                v = (p - y) * x * quant
                g[b] += int(math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5))
        w = {b: w[b] - lr * ((g[b] / quant) / n) for b in range(-1, dim)}
    assert abs(got_b - w[-1]) < 1e-6
    for b in range(dim):
        assert abs(got_w[b] - w[b]) < 1e-6, (b, got_w[b], w[b])


def test_fit_quality_classifier_empty_and_zero_iters(spark):
    docs = spark.createDataFrame([], "doc_id long, text string, source string")
    w, b = text.fit_quality_classifier(docs, F.col("source") == "x", dim=4)
    assert w == [0.0] * 4 and b == 0.0
    docs2 = spark.createDataFrame(
        [(1, "a b", "x")], "doc_id long, text string, source string"
    )
    w2, b2 = text.fit_quality_classifier(
        docs2, F.col("source") == "x", dim=4, iters=0
    )
    assert w2 == [0.0] * 4 and b2 == 0.0


def test_c4_quality_rules(spark):
    docs = spark.createDataFrame(
        [
            # 3 good sentences, each a >=5-word line with terminal punct
            (1, "the quick brown fox jumps.\nover the lazy dog today!\n"
                "and then it ran home?"),
            # line too short + no terminal punct -> no kept lines
            (2, "short line\nno punctuation here at all"),
            # code brace kills it despite good lines
            (3, "this is a fine sentence right here.\nanother very good "
                "sentence follows it.\na third sentence closes it out. {x}"),
            # boilerplate phrase
            (4, "Lorem Ipsum dolor sit amet friends.\nthe second sentence "
                "is here now.\nthe third sentence lands right here."),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text.c4_quality(docs).collect()}
    assert out[1]["keep"] == 1 and out[1]["n_kept_lines"] == 3
    assert out[1]["clean_text"].count("\n") == 2
    assert out[2]["keep"] == 0 and out[2]["n_kept_lines"] == 0
    assert out[3]["keep"] == 0 and out[3]["has_brace"] == 1
    assert out[4]["keep"] == 0 and out[4]["has_bad_phrase"] == 1
    # the kept-line filter drops the short/unpunctuated lines
    assert "short line" not in (out[2]["clean_text"] or "")


def test_c4_quality_null_and_empty(spark):
    docs = spark.createDataFrame(
        [(1, None), (2, "")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in text.c4_quality(docs).collect()}
    for d in (1, 2):
        assert out[d]["keep"] == 0 and out[d]["n_kept_lines"] == 0


def test_epoch_expand_counts_and_determinism(spark):
    import hashlib

    docs = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(60)],
        "doc_id long, source string",
    )
    factors = {"s0": 2.0, "s1": 0.5, "s2": 3.4}
    out = text.epoch_expand(docs, factors, seed="e1").collect()
    per_doc: dict[int, list[int]] = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], []).append(r["copy_idx"])
    import math

    for i in range(60):
        e = factors[f"s{i % 3}"]
        u = int(hashlib.md5(f"e1:{i}".encode()).hexdigest()[:8], 16) / 2**32
        expect = int(math.floor(e)) + (1 if u < e - math.floor(e) else 0)
        got = sorted(per_doc.get(i, []))
        assert got == list(range(expect)), (i, e, got, expect)


def test_epoch_expand_missing_source_dropped(spark):
    docs = spark.createDataFrame(
        [(1, "known"), (2, "unknown")], "doc_id long, source string"
    )
    out = text.epoch_expand(docs, {"known": 1.0}).collect()
    assert {r["doc_id"] for r in out} == {1}


def test_ccnet_buckets_orders_by_fluency(spark):
    fluent = "the cat sat on the mat and the cat sat on the mat again"
    docs = spark.createDataFrame(
        [(i, fluent) for i in range(6)]
        + [(10 + i, f"zxq{i} wopr{i} blarg{i} fnord{i} quux{i}") for i in range(6)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text.ccnet_buckets(docs).collect()}
    # identical fluent docs share a ppl at/below the 1/3 cutpoint of
    # their language group; each gibberish doc's unseen bigrams push it
    # to a strictly higher ppl
    for i in range(6):
        assert out[i]["bucket"] == "head", out[i]
    assert all(
        out[10 + i]["ppl"] > out[0]["ppl"] for i in range(6)
    )


def test_ccnet_buckets_unscorable_doc_is_tail(spark):
    docs = spark.createDataFrame(
        [(1, "the and of is to the and of"), (2, "single"),
         (3, "the of and is to the of and is to")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text.ccnet_buckets(docs).collect()}
    assert out[2]["ppl"] is None and out[2]["bucket"] == "tail"


def test_decontaminate_winnow_catches_edited_quote(spark):
    """A benchmark passage quoted with a mid-quote EDIT (which breaks
    any exact 8-gram run) must still be flagged: the unedited halves
    carry enough 4-gram winnowing fingerprints."""
    bench_text = (
        "what is the capital of france the capital of france is paris "
        "and it has been the capital since the tenth century"
    )
    words = bench_text.split()
    edited = " ".join(words[:10] + ["EDITED"] + words[11:])
    docs = spark.createDataFrame(
        [
            (1, "intro words " + edited + " closing words"),
            (2, "totally unrelated text about spark shuffles and joins "
                "with nothing shared at all beyond common words"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, bench_text)], "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in dedup.decontaminate_winnow(
            docs, bench, min_shared=2, k=4, window=4
        ).collect()
    }
    assert out[1]["contaminated"] == 1 and out[1]["n_shared_fps"] >= 2
    assert out[2]["contaminated"] == 0
    # the exact-gram form misses the edited quote at L=8 (no unbroken
    # 8-gram run of benchmark text survives the edit on one side);
    # verify the winnow form is strictly more sensitive here
    exact = {
        r["doc_id"]: r
        for r in dedup.contamination_spans(docs, bench, min_words=12).collect()
    }
    assert 1 not in exact  # 12-gram runs: broken by the edit


def test_substring_dedup_hash_modes_span_identical(spark):
    """md5 (oracle-parity strings) and xxhash64 (8-byte production
    shuffle payload) must produce IDENTICAL spans and rebuilt text on a
    collision-free fixture — the hash only buckets gram occurrences, it
    never reaches the output (VERDICT r7 item 5)."""
    docs = _docs(
        spark,
        [
            (1, "a b c d e f g h"),
            (2, "x a b c d e y z"),          # repeats doc 1's 5-run
            (3, "p q r s t p q r s t"),      # intra-doc repeat
            (4, "m n o"),                    # below the gram floor
        ],
    )
    def rows(mode):
        return sorted(
            (r["doc_id"], r["n_spans"], r["n_dup_words"], r["clean_text"])
            for r in dedup.strip_duplicate_spans(
                docs, min_words=5, hash_mode=mode
            ).collect()
        )
    assert rows("md5") == rows("xxhash64")
    # contamination twin: same identity on the broadcast-gram kernel
    bench = _docs(spark, [(100, "a b c d e")])
    def crows(mode):
        return sorted(
            (r["doc_id"], r["clean_text"])
            for r in dedup.strip_contamination(
                docs, bench, min_words=5, hash_mode=mode
            ).collect()
        )
    assert crows("md5") == crows("xxhash64")


def test_word_grams_xxhash64_is_bigint(spark):
    """The production gram hash must be a fixed 8-byte BIGINT (shuffle
    payload ~4x smaller than the 32-char md5 string at 100 TB)."""
    docs = _docs(spark, [(1, "a b c d e f")])
    g = dedup._word_grams(docs, 5, hash_mode="xxhash64")
    assert dict(g.dtypes)["gh"] == "bigint"
    assert dict(dedup._word_grams(docs, 5).dtypes)["gh"] == "string"


def test_log_odds_separates_group_markers(spark):
    """A term appearing only in group A gets a strongly positive z; a
    B-only term strongly negative; shared background terms sit near 0
    — and the prior keeps single-occurrence terms finite."""
    from process_alphafold3_outputs_spark.operators.text import (
        log_odds_terms,
    )

    rows = [(i, "common words here plus groupa marker", "en") for i in range(10)]
    rows += [(100 + i, "common words here plus groupb token", "fr")
             for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r.tok: r for r in log_odds_terms(
        docs, F.col("lang") == "en").collect()}
    # with a small prior an A-only term is the strongest positive and a
    # B-only term the strongest negative; shared terms sit at ~0
    assert out["groupa"].z == max(r.z for r in out.values()) > 0
    assert out["groupb"].z == min(r.z for r in out.values()) < 0
    assert abs(out["common"].z) < abs(out["groupa"].z) / 2
    assert out["groupa"].count_a == 10 and out["groupa"].count_b == 0
    import math
    for r in out.values():
        assert math.isfinite(r.z) and math.isfinite(r.delta)


def test_paragraph_language_profile_detects_mixed_docs(spark):
    """A doc whose first chunk is English and second chunk French
    reports 2 languages with dominant_frac 0.5; a pure-English doc
    reports (1 lang, frac 1.0); chunking is exactly para_words-sized."""
    from process_alphafold3_outputs_spark.operators.text import (
        paragraph_language_profile,
    )

    en = "the cat and the dog is to the mat and of it"          # 12 words
    fr = "le chat et les chiens est le la des les et le"        # 12 words
    docs = spark.createDataFrame(
        [(1, en + " " + fr), (2, en), (3, "")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in paragraph_language_profile(
        docs, para_words=12).collect()}
    assert out[1].n_paragraphs == 2 and out[1].n_langs == 2
    assert out[1].dominant_frac == 0.5
    assert out[1].dominant_lang in ("en", "fr")  # tie -> alphabetical
    assert out[1].dominant_lang == "en"
    assert out[2].n_paragraphs == 1 and out[2].n_langs == 1
    assert out[2].dominant_lang == "en" and out[2].dominant_frac == 1.0
    # empty text: one empty paragraph, language 'und'
    assert out[3].dominant_lang == "und" and out[3].n_paragraphs == 1


def test_split_by_language_merges_adjacent_runs(spark):
    """EN,EN,FR paragraphs -> two segments (the adjacent English
    chunks merge); reassembled segment text round-trips the original
    word sequence; a pure doc stays one segment."""
    from process_alphafold3_outputs_spark.operators.text import (
        split_by_language,
    )

    en1 = "the cat and the dog is to the mat and of it"
    en2 = "the sun and the moon is to the sky and of light"
    fr = "le chat et les chiens est le la des les et le"
    docs = spark.createDataFrame(
        [(1, " ".join([en1, en2, fr])), (2, en1)],
        "doc_id long, text string",
    )
    segs = sorted(
        split_by_language(docs, para_words=12).collect(),
        key=lambda r: (r.doc_id, r.seg_id),
    )
    d1 = [s for s in segs if s.doc_id == 1]
    assert [(s.seg_id, s.lang, s.n_paragraphs) for s in d1] == [
        (1, "en", 2), (2, "fr", 1)
    ]
    assert d1[0].seg_text == en1 + " " + en2
    assert d1[1].seg_text == fr
    d2 = [s for s in segs if s.doc_id == 2]
    assert [(s.seg_id, s.lang) for s in d2] == [(1, "en")]
    # segments reassemble the full document losslessly
    assert " ".join(s.seg_text for s in d1) == " ".join([en1, en2, fr])


def test_sample_pps_invariants_and_guards(spark):
    """Systematic PPS (r13): per-domain Σ n_picks == k exactly; a heavy
    row (w > W/k) is picked with certainty at multiplicity within 1 of
    k·w/W; zero weights never picked; NULL weights excluded; W == 0
    domains emit nothing; determinism across repartition; loud in-path
    refusal on a negative weight."""
    import pytest as _pt

    from process_alphafold3_outputs_spark.operators.text import sample_pps

    rows = (
        # domain a: one heavy row (w=60 of W=100 -> certainty at k=5:
        # k*w/W = 3 picks) + light tail
        [(1, "a", 60)] + [(i, "a", 5) for i in range(2, 10)]
        # domain b: uniform weights
        + [(i, "b", 7) for i in range(100, 120)]
        # domain c: all zero weight -> W == 0, nothing to draw
        + [(200, "c", 0), (201, "c", 0)]
        # domain d: NULL weights excluded, one real row
        + [(300, "d", None), (301, "d", 3)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, w long")
    out = sample_pps(df, k=5, weight_col="w").collect()
    by_dom = {}
    for r in out:
        by_dom.setdefault(r.domain, []).append(r)
    assert set(by_dom) == {"a", "b", "d"}
    for dom in ("a", "b", "d"):
        assert sum(r.n_picks for r in by_dom[dom]) == 5
    heavy = [r for r in by_dom["a"] if r.doc_id == 1]
    assert len(heavy) == 1 and heavy[0].n_picks in (3, 4)  # floor/ceil of 3.0
    assert all(r.weight > 0 for r in out)
    # single-row domain d: the lone positive row absorbs all k picks
    assert by_dom["d"][0].doc_id == 301 and by_dom["d"][0].n_picks == 5
    # determinism across partitioning
    again = sample_pps(df.repartition(7), k=5, weight_col="w").collect()
    key = lambda rs: sorted((r.doc_id, r.domain, r.n_picks) for r in rs)
    assert key(again) == key(out)
    with _pt.raises(ValueError, match="k must"):
        sample_pps(df, k=0, weight_col="w")
    bad = spark.createDataFrame(
        [(1, "a", 5), (2, "a", -3)], "doc_id long, source string, w long"
    )
    with _pt.raises(Exception, match="negative weight"):
        sample_pps(bad, k=2, weight_col="w").collect()


def test_apportion_budget_exact_sum_and_edges(spark):
    """Hamilton apportionment (r13): sum(quota) == k EXACTLY on a case
    where naive rounding drifts; remainder ties break to the smaller
    domain; zero weights and zero remainders never receive the +1;
    W == 0 -> all quotas 0; negative weight refused in-path."""
    import pytest as _pt

    from process_alphafold3_outputs_spark.operators.text import (
        apportion_budget,
    )

    # k=10 over weights 3:3:3:1 -> floors 3,3,3,1 sum 10 exactly? No:
    # 10*3/10=3 exact... use the classic drift case: 7 seats, weights
    # 4:3:3 -> shares 2.8, 2.1, 2.1 -> floors 2,2,2 (sum 6), one +1 to
    # the largest remainder (.8 -> domain with weight 4)
    w = spark.createDataFrame(
        [("a", 4), ("b", 3), ("c", 3)], "source string, weight long"
    )
    got = {r.domain: r.quota for r in apportion_budget(w, 7).collect()}
    assert got == {"a": 3, "b": 2, "c": 2} and sum(got.values()) == 7
    # remainder tie: k=5 over 1:1 -> floors 2,2, one top-up; equal
    # remainders break to the smaller domain name
    w2 = spark.createDataFrame(
        [("x", 1), ("y", 1)], "source string, weight long"
    )
    got2 = {r.domain: r.quota for r in apportion_budget(w2, 5).collect()}
    assert got2 == {"x": 3, "y": 2}
    # zero weight: never topped up, even when short
    w3 = spark.createDataFrame(
        [("a", 1), ("z", 0)], "source string, weight long"
    )
    got3 = {r.domain: r.quota for r in apportion_budget(w3, 3).collect()}
    assert got3 == {"a": 3, "z": 0}
    # W == 0: all quotas 0
    w4 = spark.createDataFrame(
        [("a", 0), ("b", 0)], "source string, weight long"
    )
    assert {r.quota for r in apportion_budget(w4, 9).collect()} == {0}
    with _pt.raises(ValueError, match="k must"):
        apportion_budget(w, -1)
    bad = spark.createDataFrame(
        [("a", -2)], "source string, weight long"
    )
    with _pt.raises(Exception, match="negative weight"):
        apportion_budget(bad, 3).collect()


def test_sample_stratified_quota_exact_and_deterministic(spark):
    """sample_stratified (r14): the classic 4:3:3-over-7 Hamilton case
    lands quotas 3/2/2 (sum EXACTLY k where naive rounding drifts);
    the draw is md5-deterministic across repartitioning; a short
    domain yields its whole population; count-mode weights."""
    from process_alphafold3_outputs_spark.operators.text import (
        sample_stratified,
    )

    rows = (
        [(i, "a", 1) for i in range(4)]
        + [(10 + i, "b", 1) for i in range(3)]
        + [(20 + i, "c", 1) for i in range(3)]
    )
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, w long"
    )
    got = sample_stratified(docs, 7, weight_col="w").collect()
    by_dom = {}
    for r in got:
        by_dom.setdefault(r.source, []).append(r.doc_id)
    assert {d: len(v) for d, v in by_dom.items()} == {
        "a": 3, "b": 2, "c": 2
    }
    assert len(got) == 7  # sum exactly k
    # deterministic across partitioning
    again = sample_stratified(
        docs.repartition(7), 7, weight_col="w"
    ).collect()
    assert sorted(r.doc_id for r in again) == sorted(
        r.doc_id for r in got
    )
    # short domain: quota 3 but only 2 docs -> takes both
    short = spark.createDataFrame(
        [(1, "a", 4), (2, "a", 4), (10, "b", 3), (11, "b", 3),
         (12, "b", 3)],
        "doc_id long, source string, w long",
    )
    # weights a=8, b=9 -> k=7: shares 3.29/3.71, floors 3/3, top-up b
    s = sample_stratified(short, 7, weight_col="w").collect()
    cnt = {}
    for r in s:
        cnt[r.source] = cnt.get(r.source, 0) + 1
    assert cnt == {"a": 2, "b": 3}  # a short (quota 3, pop 2)
    # count-mode: quotas proportional to row counts
    cm = sample_stratified(docs, 5).collect()
    cnt = {}
    for r in cm:
        cnt[r.source] = cnt.get(r.source, 0) + 1
    assert sum(cnt.values()) == 5 and cnt["a"] == 2
