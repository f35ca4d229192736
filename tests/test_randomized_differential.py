"""Seeded randomized differentials for the round-2 kernels: adversarial
inputs the fixture corpus can't produce — atom coordinates landing
exactly on cell borders and the max_dist sphere, document sets with
duplicates, tiny docs and corpus-wide hot shingles."""

from __future__ import annotations

import itertools
import random

from process_alphafold3_outputs_spark.operators import dedup
from process_alphafold3_outputs_spark.operators.spatial import (
    contact_pairs_grid,
    contact_pairs_numpy,
)
from process_alphafold3_outputs_spark.params import ScreenParams

PARAMS = ScreenParams()  # max_dist = 8.0


def _random_atoms(seed: int, n_per_chain: int = 60):
    """Coordinates snapped to multiples of d/2 = 4.0 — every pair
    distance is a multiple-of-16 sum of squares, maximising exact
    cell-border and radius-boundary hits (the half-cell proof's edge
    cases). One job per seed."""
    rng = random.Random(seed)
    rows = []
    for chain, n in (("A", n_per_chain), ("B", n_per_chain)):
        for r in range(1, n + 1):
            x, y, z = (rng.randint(0, 8) * 4.0 for _ in range(3))
            rows.append((f"j{seed}", 0, chain, r, "GLY", True, "CA", x, y, z))
    return rows


def test_grid_matches_numpy_on_boundary_heavy_clouds(spark):
    schema = (
        "job string, model_id int, chain_id string, residue_id int, "
        "residue_name string, is_aa boolean, atom_name string, "
        "x double, y double, z double"
    )
    seeds = (3, 17, 92)
    atoms = spark.createDataFrame(
        [row for seed in seeds for row in _random_atoms(seed)], schema
    )
    inter = spark.createDataFrame(
        [(f"j{seed}", r) for seed in seeds for r in range(1, 61)],
        "job string, partner_res int",
    )
    grid = {
        (r.job, r.partner_res, r.poi_res)
        for r in contact_pairs_grid(atoms, inter, PARAMS).collect()
    }
    brute = {
        (r.job, r.partner_res, r.poi_res)
        for r in contact_pairs_numpy(atoms, inter, PARAMS).collect()
    }
    assert grid == brute
    # snapped coords guarantee contacts in every cloud
    assert {job for job, _, _ in brute} == {f"j{seed}" for seed in seeds}


def _random_docs(seed: int, n: int = 40):
    """Duplicates, tiny docs, and a hot phrase shared by half the corpus."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(n):
        k = rng.choice([1, 2, 4, 8, 12])
        words = [rng.choice(vocab) for _ in range(k)]
        if i % 2 == 0:
            words = ["hot", "shared", "phrase"] + words
        if i % 7 == 0 and i > 0:
            rows.append((i, rows[i - 1][1]))  # exact duplicate
        else:
            rows.append((i, " ".join(words)))
    return rows


def _union_find_components(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Reference model: path-compressed union-find, min id per root."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_connected_components_match_union_find_on_random_graphs(spark):
    """Pointer-doubling label propagation must agree with a sequential
    union-find on random graphs across densities — sparse forests,
    chains and dense multi-component mixes — and on a star and on
    reversed pairs with a self-pair."""
    cases = []
    for seed, n_nodes, n_edges in ((5, 60, 20), (23, 60, 60), (41, 40, 120)):
        rng = random.Random(seed)
        cases.append([
            tuple(sorted(rng.sample(range(n_nodes), 2)))
            for _ in range(n_edges)
        ])
    cases.append([(0, i) for i in range(1, 20)])
    cases.append([(2, 1), (3, 2), (11, 10), (12, 12)])
    for pairs in cases:
        df = spark.createDataFrame(
            [(a, b) for a, b in pairs], "doc_a long, doc_b long"
        )
        got = {
            r.doc_id: r.cluster_id
            for r in dedup.connected_components(df).collect()
        }
        assert got == _union_find_components(pairs), pairs[:8]


def test_jaccard_prefix_filter_lossless_on_adversarial_docs(spark):
    for seed, threshold in itertools.product((5, 23), (0.4, 0.7, 0.95)):
        docs = spark.createDataFrame(
            _random_docs(seed), "doc_id long, text string"
        )
        fast = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in dedup.jaccard_pairs(
                docs, threshold=threshold, prefix_filter=True
            ).collect()
        }
        full = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in dedup.jaccard_pairs(
                docs, threshold=threshold, prefix_filter=False
            ).collect()
        }
        assert fast == full, (seed, threshold)
        if threshold <= 0.4:
            assert len(full) > 0, (seed, threshold)


# --------------------------------------------------------------------------
# k-means vs a sequential numpy Lloyd reference
# --------------------------------------------------------------------------


def test_kmeans_matches_numpy_lloyd(spark):
    """Same seeding (first k by vec_id), same iteration count, same
    max-cosine/lowest-cell tie-break: the distributed Lloyd loop must
    land on the same assignment as a sequential numpy implementation."""
    import numpy as np

    from process_alphafold3_outputs_spark.operators import similarity

    rng = random.Random(77)
    n, dim, k, iters = 60, 6, 4, 2
    vecs = [
        [rng.uniform(-1, 1) for _ in range(dim)] for _ in range(n)
    ]
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )

    def cos(a, b):
        a, b = np.asarray(a), np.asarray(b)
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    cents = {c: list(vecs[c]) for c in range(k)}
    for _ in range(iters):
        assign = {}
        for i, v in enumerate(vecs):
            best = max(cents, key=lambda c: (cos(v, cents[c]), -c))
            assign[i] = best
        new = {}
        for c in set(assign.values()):
            members = sorted(i for i in assign if assign[i] == c)
            new[c] = [
                sum(vecs[i][p] for i in members) / len(members)
                for p in range(dim)
            ]
        cents = new
    expect = {
        i: max(cents, key=lambda c: (cos(v, cents[c]), -c))
        for i, v in enumerate(vecs)
    }

    got = {
        r["vec_id"]: r["cluster"]
        for r in similarity.kmeans(emb, k=k, iters=iters).collect()
    }
    assert got == expect
    # every cluster is non-trivial on this data
    assert len(set(got.values())) > 1


# --------------------------------------------------------------------------
# round-4 session kernels vs pure-Python references on random corpora
# --------------------------------------------------------------------------


def _random_small_vocab_docs(seed: int, n_docs: int = 30, vocab: int = 12, max_words: int = 40):
    """Small vocabulary forces segment collisions within and across
    docs — the cases the segment-dedup family must get exactly right."""
    rng = random.Random(seed)
    rows = []
    for i in range(n_docs):
        n = rng.randint(0, max_words)
        rows.append((i, " ".join(f"w{rng.randint(0, vocab)}" for _ in range(n))))
    return rows


def _segments(words: list[str], seg: int) -> list[str]:
    if not words:
        words = [""]
    out = []
    for s in range(0, max(len(words), 1), seg):
        out.append(" ".join(words[s:s + seg]))
    return out


def test_dedup_within_doc_matches_python_reference(spark):
    from process_alphafold3_outputs_spark.operators import text

    seg = 3
    for seed in (11, 23, 47):
        rows = _random_small_vocab_docs(seed)
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r.doc_id: (r.n_segments, r.n_kept, r.clean_text)
            for r in text.dedup_within_doc(docs, seg_words=seg).collect()
        }
        for doc_id, txt in rows:
            words = " ".join((txt or "").lower().split()).split(" ")
            segs = _segments(words, seg)
            kept, seen = [], set()
            for s in segs:
                if s not in seen:
                    seen.add(s)
                    kept.append(s)
            assert got[doc_id] == (len(segs), len(kept), " ".join(kept)), (
                seed, doc_id, txt,
            )


def test_drop_boilerplate_matches_python_reference(spark):
    from process_alphafold3_outputs_spark.operators import dedup as _dedup

    seg, min_df = 3, 2
    for seed in (5, 19):
        rows = _random_small_vocab_docs(seed)
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r.doc_id: (r.n_segments, r.n_kept, r.clean_text)
            for r in _dedup.drop_boilerplate(
                docs, seg_words=seg, min_df=min_df
            ).collect()
        }
        per_doc = {}
        df_count: dict = {}
        for doc_id, txt in rows:
            words = " ".join((txt or "").lower().split()).split(" ")
            per_doc[doc_id] = _segments(words, seg)
        for doc_id, segs in per_doc.items():
            for s in set(segs):
                df_count[s] = df_count.get(s, 0) + 1
        for doc_id, segs in per_doc.items():
            kept = [s for s in segs if df_count[s] < min_df]
            assert got[doc_id] == (len(segs), len(kept), " ".join(kept)), (
                seed, doc_id,
            )


def test_bigram_lm_matches_python_reference(spark):
    import math

    from process_alphafold3_outputs_spark.operators import text

    alpha = 0.5
    for seed in (7,):
        rows = _random_small_vocab_docs(seed, n_docs=20)
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r.doc_id: (r.n_bigrams, r.avg_nll)
            for r in text.bigram_lm_scores(docs, alpha=alpha).collect()
        }
        c2: dict = {}
        c1: dict = {}
        vocab = set()
        toks = {}
        for doc_id, txt in rows:
            words = " ".join((txt or "").lower().split()).split(" ")
            toks[doc_id] = words
            for a, b in zip(words, words[1:]):
                c2[(a, b)] = c2.get((a, b), 0) + 1
                c1[a] = c1.get(a, 0) + 1
                vocab.add(b)
        v = len(vocab)
        for doc_id, words in toks.items():
            bgs = list(zip(words, words[1:]))
            if not bgs:
                assert got[doc_id] == (0, None)
                continue
            s = 0.0
            for a, b in bgs:
                s += -math.log((c2[(a, b)] + alpha) / (c1[a] + alpha * v))
            assert got[doc_id][0] == len(bgs)
            assert abs(got[doc_id][1] - s / len(bgs)) < 1e-6, (seed, doc_id)


def test_duplicate_spans_random_vs_bruteforce(spark):
    """Span-level exact-substring dedup vs a brute-force sequential
    reference (dict-of-grams first occurrence + interval merge) on
    random small-vocabulary corpora — collisions, intra-doc repeats
    and planted cross-doc runs all arise naturally."""
    import random

    from process_alphafold3_outputs_spark.operators import dedup

    rng = random.Random(77)
    vocab = ["a", "b", "c", "d", "e", "f", "g", "h"]
    L = 3
    for trial in range(3):
        docs = {}
        for d in range(14):
            docs[d] = [rng.choice(vocab) for _ in range(rng.randint(0, 18))]
        # plant a verbatim 6-word run from doc 0 into two later docs
        if len(docs[0]) >= 6:
            run = docs[0][:6]
            docs[5] = docs[5][:2] + run + docs[5][2:]
            docs[9] = run + docs[9]

        first: dict[tuple, tuple] = {}
        dup_occ: list[tuple[int, int]] = []
        for d in sorted(docs):
            toks = docs[d]
            for p in range(len(toks) - L + 1):
                g = tuple(toks[p : p + L])
                if g in first:
                    dup_occ.append((d, p))
                else:
                    first[g] = (d, p)
        expect: dict[int, list[tuple[int, int]]] = {}
        for d, p in dup_occ:
            expect.setdefault(d, []).append((p, p + L))
        for d, ivs in expect.items():
            ivs.sort()
            merged: list[list[int]] = []
            for b, e in ivs:
                if merged and b <= merged[-1][1]:
                    merged[-1][1] = max(merged[-1][1], e)
                else:
                    merged.append([b, e])
            expect[d] = [tuple(x) for x in merged]

        sdf = spark.createDataFrame(
            [(d, " ".join(t)) for d, t in docs.items()],
            "doc_id long, text string",
        )
        got: dict[int, list[tuple[int, int]]] = {}
        for r in dedup.duplicate_spans(sdf, min_words=L).collect():
            got.setdefault(r["doc_id"], []).append((r["begin"], r["end"]))
        for d in got:
            got[d].sort()
        assert got == {d: v for d, v in expect.items() if v}, f"trial {trial}"

        # strip form: surviving words are exactly the un-spanned ones
        stripped = {
            r["doc_id"]: r["clean_text"]
            for r in dedup.strip_duplicate_spans(sdf, min_words=L).collect()
        }
        for d, toks in docs.items():
            spans = expect.get(d, [])
            keep = [
                t
                for i, t in enumerate(toks)
                if not any(b <= i < e for b, e in spans)
            ]
            assert stripped[d] == " ".join(keep), (trial, d)


def test_containment_prefix_equals_plain_on_random_corpora(spark):
    """The containment prefix path (contained-side pigeonhole prefix ×
    full container postings) is LOSSLESS: identical directed pairs and
    ratios to the plain inverted-index path, on corpora with heavy
    shingle collisions (small vocab) at several thresholds."""
    for seed, t in ((11, 0.5), (12, 0.7), (13, 0.9)):
        rows = _random_small_vocab_docs(seed, n_docs=25, vocab=8, max_words=30)
        # inject guaranteed subset duplicates: short prefixes of real
        # docs (every shingle of the copy is in the original)
        donors = [r for r in rows if len(r[1].split()) >= 12][:4]
        rows = rows + [
            (1000 + i, " ".join(txt.split()[:8]))
            for i, (_, txt) in enumerate(donors)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")

        def collect(prefix):
            return sorted(
                (r.doc_id, r.container_id, r.containment)
                for r in dedup.containment_pairs(
                    docs, threshold=t, prefix_filter=prefix
                ).collect()
            )
        plain = collect(False)
        pref = collect(True)
        assert pref == plain, (seed, t)
        assert plain  # fixtures must actually produce qualifying pairs


def test_overlap_prefix_equals_plain_on_random_corpora(spark):
    """The overlap-coefficient prefix path (every doc's own pigeonhole
    prefix × full postings — the min side of any qualifying pair is
    covered by its own prefix) is LOSSLESS: identical (a, b, n_common,
    n_a, n_b) rows to the plain inverted-index path on heavy-collision
    random corpora with injected subset duplicates."""
    for seed, t in ((21, 0.5), (22, 0.7), (23, 0.9)):
        rows = _random_small_vocab_docs(seed, n_docs=25, vocab=8, max_words=30)
        donors = [r for r in rows if len(r[1].split()) >= 12][:4]
        rows = rows + [
            (1000 + i, " ".join(txt.split()[:8]))
            for i, (_, txt) in enumerate(donors)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")

        def collect(prefix):
            return sorted(
                (r.doc_a, r.doc_b, r.n_common, r.n_a, r.n_b)
                for r in dedup.overlap_pairs(
                    docs, threshold=t, prefix_filter=prefix
                ).collect()
            )
        plain = collect(False)
        pref = collect(True)
        assert pref == plain, (seed, t)
        assert plain  # fixtures must actually produce qualifying pairs


def test_fleiss_kappa_matches_pure_python_on_random_panels(spark):
    """fleiss_kappa vs an independent pure-Python implementation on
    seeded random constant-r panels (r in 2..5, up to 4 categories)."""
    import math

    from process_alphafold3_outputs_spark.operators.ranking import (
        fleiss_kappa,
    )

    def ref(panel):
        # panel: list of per-item rating lists, all length r
        n, r = len(panel), len(panel[0])
        cats = sorted({c for row in panel for c in row})
        nij = [[row.count(c) for c in cats] for row in panel]
        s = sum(v * v for row in nij for v in row)
        pbar = (s - n * r) / ((n * r) * (r - 1))
        cj = [sum(row[j] for row in nij) for j in range(len(cats))]
        pe = sum(c * c for c in cj) / ((n * r) * (n * r))
        kap = (pbar - pe) / (1 - pe) if pe < 1 else None
        r6 = lambda v: math.floor(v * 1e6 + 0.5) / 1e6  # noqa: E731
        return (n, r, len(cats), r6(pbar), r6(pe),
                None if kap is None else r6(kap))

    for seed in (5, 41, 260):
        rng = random.Random(seed)
        r = rng.randint(2, 5)
        cats = "abcd"[: rng.randint(2, 4)]
        panel = [
            [rng.choice(cats) for _ in range(r)] for _ in range(30)
        ]
        rows = [
            (i, c) for i, row in enumerate(panel) for c in row
        ]
        df = spark.createDataFrame(rows, "i long, j string")
        got = fleiss_kappa(df, "i", "j").collect()[0]
        want = ref(panel)
        assert (
            got.n_items, got.n_raters, got.n_categories,
            got.pbar, got.pe, got.kappa,
        ) == want, seed


def test_pairwise_cluster_eval_matches_bruteforce_pairs(spark):
    """pairwise_cluster_eval's group-size combinatorics vs literally
    enumerating all O(n²) item pairs on seeded random clusterings."""
    import math

    from process_alphafold3_outputs_spark.operators.entity import (
        pairwise_cluster_eval,
    )

    for seed in (9, 77, 310):
        rng = random.Random(seed)
        n = 40
        pred = [rng.randint(0, 5) for _ in range(n)]
        truth = [rng.randint(0, 3) for _ in range(n)]
        tp = fp = fn = 0
        for i, j in itertools.combinations(range(n), 2):
            sp_, st = pred[i] == pred[j], truth[i] == truth[j]
            tp += sp_ and st
            fp += sp_ and not st
            fn += st and not sp_
        df = spark.createDataFrame(
            [(i, str(pred[i]), str(truth[i])) for i in range(n)],
            "id long, p string, t string",
        )
        got = pairwise_cluster_eval(df, "p", "t").collect()[0]
        assert (got.tp, got.fp, got.fn) == (tp, fp, fn), seed
        pp, pt = tp + fp, tp + fn
        r6 = lambda v: math.floor(v * 1e6 + 0.5) / 1e6  # noqa: E731
        assert got.precision == r6(tp / pp), seed
        assert got.recall == r6(tp / pt), seed
        npairs = n * (n - 1) // 2
        exp = pp * pt / npairs
        ari = (tp - exp) / ((pp + pt) / 2 - exp)
        assert got.ari == r6(ari), seed


def test_conversion_lag_quantiles_match_sorted_pick(spark):
    """conversion_lag's grain-table quantile pick vs sorting the raw
    per-conversion lags and indexing ceil(q·n) directly (type-1), on
    seeded random single-channel histories."""
    from process_alphafold3_outputs_spark.operators.funnel import (
        conversion_lag,
    )

    for seed in (13, 88, 451):
        rng = random.Random(seed)
        rows, lags = [], []
        uid = 0
        for _ in range(rng.randint(5, 40)):
            uid += 1
            lag = rng.randint(0, 120)
            conv_t = 10_000 + uid * 1_000
            rows += [
                (uid, conv_t - lag, "click"), (uid, conv_t, "purchase")
            ]
            lags.append(lag)
        df = spark.createDataFrame(
            rows, "user_id long, t long, event_type string"
        )
        got = conversion_lag(
            df, "user_id", "t", "event_type", ["click"], "purchase",
            86400,
        ).collect()
        assert len(got) == 1
        s = sorted(lags)
        n = len(s)
        want_p50 = s[-(-n // 2) - 1]       # ceil(n/2), 1-based
        want_p90 = s[-(-9 * n // 10) - 1]  # ceil(9n/10)
        assert (got[0].p50_lag_s, got[0].p90_lag_s) == (
            want_p50, want_p90
        ), seed


def test_burstiness_matches_statistics_reference(spark):
    """inter_event_profile's moment arithmetic vs python statistics
    pvariance/mean over seeded random event histories."""
    import math
    import statistics

    from process_alphafold3_outputs_spark.operators.funnel import (
        inter_event_profile,
    )

    for seed in (21, 140, 512):
        rng = random.Random(seed)
        ts = sorted(rng.sample(range(100_000), rng.randint(3, 50)))
        rows = [(1, t, i) for i, t in enumerate(ts)]
        df = spark.createDataFrame(
            rows, "user_id long, t long, event_id long"
        )
        got = inter_event_profile(df, "user_id", "t").collect()[0]
        gaps = [b - a for a, b in zip(ts, ts[1:])]
        mu = statistics.mean(gaps)
        var = statistics.pvariance(gaps)
        sigma = math.sqrt(var)
        r6 = lambda v: math.floor(v * 1e6 + 0.5) / 1e6  # noqa: E731
        assert got.n_gaps == len(gaps), seed
        assert abs(got.mean_gap_s - mu) < 1e-6, seed
        assert abs(got.var_gap_s - var) < 1e-6, seed
        assert abs(got.burstiness - (sigma - mu) / (sigma + mu)) < 1e-6, seed
