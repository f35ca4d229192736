"""Driver-contract queries for the training-data-pipeline extensions
(dedup / similarity / text analysis), with full DuckDB oracle SQL that
reproduces each construction bit-for-bit (md5-based hashing, double
fold dot products, replace-arithmetic word counts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup, similarity, text
from ..sources.tables import event_seconds, load_table
from .driver_queries import _ORACLE, register

# shared SQL fragments -------------------------------------------------------

_NORM = r"SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t FROM documents"

_SHINGLES = f"""
    norm AS ({_NORM}),
    words AS (SELECT doc_id, t, string_split(t, ' ') AS w FROM norm),
    shingles AS (
        SELECT DISTINCT doc_id,
               CASE WHEN len(w) < 3 THEN t
                    ELSE array_to_string(w[i:i+2], ' ') END AS shingle
        FROM words, unnest(generate_series(1, greatest(len(w) - 2, 1))) s(i)
    )
"""


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------
@register(
    "dedup_exact",
    sql=f"""
    WITH norm AS ({_NORM})
    SELECT md5(t) AS text_hash, min(doc_id) AS keeper_doc_id,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM norm GROUP BY md5(t)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# MinHash + LSH candidate pairs
# --------------------------------------------------------------------------
@register(
    "dedup_minhash_lsh",
    sql=f"""
    WITH {_SHINGLES},
    mh AS (
        SELECT doc_id, s.seed,
               min(((2 * s.seed + 1)
                    * (CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) % 2147483647)
                    + (s.seed * s.seed + 7)) % 2147483647) AS minhash
        FROM shingles, unnest(generate_series(0, 11)) s(seed)
        GROUP BY doc_id, s.seed
    ),
    bands AS (
        SELECT doc_id, seed // 3 AS band,
               string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY seed) AS band_sig
        FROM mh GROUP BY doc_id, seed // 3
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.lsh_candidate_pairs(
        load_table(spark, sf_dir, "documents"), n_bands=4, rows_per_band=3
    )


@register(
    "dedup_lsh_buckets",
    sql=f"""
    WITH {_SHINGLES},
    mh AS (
        SELECT doc_id, s.seed,
               min(((2 * s.seed + 1)
                    * (CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) % 2147483647)
                    + (s.seed * s.seed + 7)) % 2147483647) AS minhash
        FROM shingles, unnest(generate_series(0, 11)) s(seed)
        GROUP BY doc_id, s.seed
    ),
    bands AS (
        SELECT doc_id, seed // 3 AS band,
               string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY seed) AS band_sig
        FROM mh GROUP BY doc_id, seed // 3
    )
    SELECT CAST(band AS INT) AS band, band_sig,
           min(doc_id) AS keeper_doc_id, CAST(count(*) AS BIGINT) AS n_docs
    FROM bands GROUP BY band, band_sig
    HAVING count(*) > 1
    """,
)
def dedup_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-form LSH output: bucket summaries, not m² pairs — the
    dedup-planner shape at corpus scale."""
    return dedup.lsh_dup_buckets(
        load_table(spark, sf_dir, "documents"), n_bands=4, rows_per_band=3
    )


# --------------------------------------------------------------------------
# n-gram Jaccard pairs (exact, inverted-index join)
# --------------------------------------------------------------------------
@register(
    "dedup_jaccard",
    sql=f"""
    WITH {_SHINGLES},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.5
    """,
)
def dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.jaccard_pairs(load_table(spark, sf_dir, "documents"), threshold=0.5)


# --------------------------------------------------------------------------
# near-dup clusters (connected components over the Jaccard pair graph)
# --------------------------------------------------------------------------
@register(
    "dedup_clusters",
    sql=f"""
    WITH RECURSIVE {_SHINGLES},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
        SELECT doc_a, doc_b
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.5
    ),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION
        SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    reach(node, lbl) AS (
        SELECT u, u FROM edges
        UNION
        SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.node
    )
    SELECT node AS doc_id, min(lbl) AS cluster_id
    FROM reach GROUP BY node
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate clusters — min-id label propagation over the
    exact-Jaccard pair graph (the cluster structure a dedup planner
    needs; the greedy higher-id drop rule is not transitive)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(docs, threshold=0.5)
    # check_every=2 halves the driver-side convergence counts (labels
    # are identical either way — pinned by pytest); the propagation
    # fixpoint lands in ~2 rounds on this corpus
    return dedup.connected_components(pairs, check_every=2)


# --------------------------------------------------------------------------
# 64-bit SimHash (two 32-bit words; a signed long can't carry bit 63)
# + band-sliced Hamming candidate pairs
# --------------------------------------------------------------------------
def _sql_bitval(b: int) -> str:
    return f"((w{b // 32} >> {b % 32}) & 1)"


_SIMHASH64_VOTES = ", ".join(
    f"sum(CASE WHEN {_sql_bitval(b)} = 1 THEN 1 ELSE -1 END) AS v{b}"
    for b in range(64)
)


def _sql_sig(lo: int, hi: int) -> str:
    return " + ".join(
        f"CASE WHEN v{b} > 0 THEN CAST({2 ** (b - lo)} AS BIGINT) ELSE 0 END"
        for b in range(lo, hi)
    )


_SIMHASH64_SIG = f"""
    norm AS ({_NORM}),
    toks AS (SELECT doc_id,
                    CAST(('0x' || substr(md5(unnest(string_split(t, ' '))), 1, 8))
                         AS BIGINT) AS w0,
                    CAST(('0x' || substr(md5(unnest(string_split(t, ' '))), 9, 8))
                         AS BIGINT) AS w1
             FROM norm),
    votes AS (SELECT doc_id, {_SIMHASH64_VOTES} FROM toks GROUP BY doc_id),
    sig AS (SELECT doc_id,
                   CAST({_sql_sig(32, 64)} AS BIGINT) AS sim_hi,
                   CAST({_sql_sig(0, 32)} AS BIGINT) AS sim_lo
            FROM votes)
"""


@register(
    "dedup_simhash64",
    sql=f"WITH {_SIMHASH64_SIG} SELECT doc_id, sim_hi, sim_lo FROM sig",
)
def dedup_simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash64(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_simhash64_near",
    sql=f"""
    WITH {_SIMHASH64_SIG},
    banded AS (
        SELECT doc_id, sim_hi, sim_lo, b.band,
               CASE b.band
                    WHEN 0 THEN sim_lo % 65536
                    WHEN 1 THEN sim_lo // 65536
                    WHEN 2 THEN sim_hi % 65536
                    ELSE sim_hi // 65536 END AS val
        FROM sig, unnest(generate_series(0, 3)) b(band))
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sim_hi, b.sim_hi))
                + bit_count(xor(a.sim_lo, b.sim_lo)) AS INT) AS hamming
    FROM banded a
    JOIN banded b ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
    """,
)
def dedup_simhash64_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = dedup.simhash64_near_pairs(load_table(spark, sf_dir, "documents"))
    return p.select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))


# --------------------------------------------------------------------------
# exact cosine top-k (brute force baseline)
# --------------------------------------------------------------------------
_TOPK_K = 5
_N_QUERIES = 8


@register(
    "similarity_topk",
    sql=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
               FROM embeddings WHERE vec_id < {_N_QUERIES}),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS ce FROM embeddings),
    scored AS (
        SELECT query_id, neighbor_id,
               list_dot_product(qe, ce) /
                 (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce))) AS s
        FROM q, c WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, CAST(rk AS INT) AS rk, round(s, 6) AS sim
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY s DESC, neighbor_id) AS rk
          FROM scored)
    WHERE rk <= {_TOPK_K}
    """,
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.topk_bruteforce(emb, F.col("vec_id") < _N_QUERIES, k=_TOPK_K)


# --------------------------------------------------------------------------
# language ID
# --------------------------------------------------------------------------
def _sql_count_words_in(words: tuple[str, ...]) -> str:
    """Token-membership count over the split of the normalized text
    ``t`` — the list_filter restatement of text._count_words_in."""
    wlist = ", ".join(f"'{w}'" for w in words)
    return (
        f"CAST(len(list_filter(string_split(t, ' '), "
        f"w -> w IN ({wlist}))) AS BIGINT)"
    )


def _sql_lang_score(lang: str) -> str:
    return _sql_count_words_in(text.LANG_MARKERS[lang])


@register(
    "text_language_id",
    sql=f"""
    WITH norm AS ({_NORM}),
    scores AS (SELECT doc_id,
        {", ".join(f"{_sql_lang_score(lang)} AS score_{lang}" for lang in sorted(text.LANG_MARKERS))}
        FROM norm)
    SELECT doc_id,
           CASE WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
                {"".join(f"WHEN score_{lang} = greatest(score_de, score_en, score_es, score_fr) THEN '{lang}' " for lang in sorted(text.LANG_MARKERS))}
                ELSE 'und' END AS pred_lang
    FROM scores
    """,
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.language_id(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# quality scores
# --------------------------------------------------------------------------
@register(
    "text_quality",
    sql=f"""
    WITH norm AS (SELECT doc_id, text,
                         lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t
                  FROM documents)
    SELECT doc_id,
           length(text) AS n_chars,
           CAST(len(string_split(t, ' ')) AS BIGINT) AS n_words,
           round((length(t) - len(string_split(t, ' ')) + 1)
                 / len(string_split(t, ' ')), 4) AS avg_word_len,
           round((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                 / greatest(length(text), 1), 4) AS punct_ratio,
           round({_sql_count_words_in(text.EN_STOPWORDS)}
                 / len(string_split(t, ' ')), 4) AS stopword_ratio
    FROM norm
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_scores(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# token counts
# --------------------------------------------------------------------------
@register(
    "text_token_count",
    sql=f"""
    WITH norm AS (SELECT doc_id, text,
                         lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t
                  FROM documents)
    SELECT doc_id,
           CAST(len(string_split(t, ' ')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
                AS BIGINT) AS n_bpe_ish_tokens
    FROM norm
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_counts(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# fingerprints
# --------------------------------------------------------------------------
@register(
    "text_fingerprint",
    sql=f"""
    WITH {_SHINGLES}
    SELECT n.doc_id, md5(n.t) AS exact_fp, r.rolling_fp
    FROM norm n JOIN (SELECT doc_id, min(md5(shingle)) AS rolling_fp
                      FROM shingles GROUP BY doc_id) r
      ON n.doc_id = r.doc_id
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprints(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# pre-training chunker: fixed token windows with overlap
# --------------------------------------------------------------------------
_CHUNK, _OVERLAP = 32, 8
_STRIDE = _CHUNK - _OVERLAP


@register(
    "text_chunk_documents",
    sql=f"""
    WITH norm AS ({_NORM}),
    words AS (SELECT doc_id, string_split(t, ' ') AS w, len(string_split(t, ' ')) AS n
              FROM norm),
    starts AS (
        SELECT doc_id, w, n, CAST(s.s AS INT) AS start
        FROM words,
             unnest(generate_series(
                 0,
                 greatest(CAST(ceil((n - {_CHUNK}) / {_STRIDE}.0) AS INT), 0) * {_STRIDE},
                 {_STRIDE})) s(s))
    SELECT doc_id, CAST(start // {_STRIDE} AS INT) AS chunk_id,
           array_to_string(w[start + 1 : start + {_CHUNK}], ' ') AS chunk_text,
           CAST(least({_CHUNK}, n - start) AS BIGINT) AS n_tokens
    FROM starts
    """,
)
def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = text.chunk_documents(
        load_table(spark, sf_dir, "documents"), chunk_tokens=_CHUNK, overlap=_OVERLAP
    )
    return ch.select(
        "doc_id", "chunk_id", "chunk_text", F.col("n_tokens").cast("long").alias("n_tokens")
    )


# --------------------------------------------------------------------------
# deterministic hash-based train/val split
# --------------------------------------------------------------------------
@register(
    "text_split_assign",
    sql="""
    SELECT doc_id,
           CASE WHEN CAST(('0x' || substr(md5('split-v1:' || CAST(doc_id AS VARCHAR)), 1, 8))
                     AS BIGINT) % 100 < 10
                THEN 'val' ELSE 'train' END AS split
    FROM documents
    """,
)
def text_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.split_assign(load_table(spark, sf_dir, "documents"), val_pct=10)


# --------------------------------------------------------------------------
# multimodal: metadata + deterministic fake decode (features derive from
# md5, so the first feature IS oracle-expressible: 16-bit hex / 65536)
# --------------------------------------------------------------------------
@register(
    "multimodal_features",
    sql="""
    SELECT doc_id AS asset_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_hash,
           CAST(('0x' || substr(md5(text), 1, 4)) AS INT) / 65536.0 AS f0
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    media = multimodal.from_documents(load_table(spark, sf_dir, "documents"))
    feats = multimodal.extract_features(media, fake=True)
    return feats.select(
        "asset_id",
        "n_bytes",
        "content_hash",
        F.element_at("features", 1).cast("double").alias("f0"),
    )


# --------------------------------------------------------------------------
# multimodal frame fan-out: one row per sampled frame, frame count from
# meta.duration_ms (relational — no decode), fake codec emits
# md5-derived frame bytes both engines can restate
# --------------------------------------------------------------------------
@register(
    "multimodal_frame_sample",
    sql="""
    WITH media AS (
        SELECT doc_id AS asset_id, text,
               CAST(least(octet_length(encode(text)), 4000) AS INT) AS duration_ms
        FROM documents),
    frames AS (
        SELECT asset_id, text, CAST(t.t AS INT) AS frame_ms
        FROM media, unnest(generate_series(0, duration_ms - 1, 250)) t(t)
        WHERE duration_ms > 0)
    SELECT asset_id, frame_ms,
           md5(text || '@' || CAST(frame_ms AS VARCHAR)) AS frame_hash
    FROM frames
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("video/fake").alias("modality"),
        F.encode("text", "utf-8").alias("content"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.least(F.octet_length(F.encode("text", "utf-8")), F.lit(4000))
            .cast("int")
            .alias("duration_ms"),
            F.lit("fake").alias("codec"),
        ).alias("meta"),
    )
    frames = multimodal.sample_frames(media, 250, fake=True)
    # frame content IS md5(raw ‖ @t).digest(); its lowercase hex equals
    # the oracle's md5 hex string over the same utf-8 bytes
    return frames.select(
        "asset_id", "frame_ms", F.lower(F.hex("content")).alias("frame_hash")
    )


# --------------------------------------------------------------------------
# streaming kernel in batch mode: session_window aggregation (the same
# operator the streaming ingest uses, oracle'd via gaps-and-islands SQL.
# Spark's merge boundary is INCLUSIVE: an event exactly `gap` after the
# previous one EXTENDS the session (observed at sf0.1), so the break
# rule is diff > gap — not >=)
# --------------------------------------------------------------------------
@register(
    "session_window_batch",
    sql="""
    WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events),
    d AS (SELECT user_id, t,
                 CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
                           > 1800 THEN 1 ELSE 0 END AS brk
          FROM e),
    s AS (SELECT user_id, t,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY t
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
          FROM d)
    SELECT user_id, min(t) AS session_start, max(t) + 1800 AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, isl
    """,
)
def session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        event_seconds(ev).cast("timestamp").alias("ts"),
    )
    return (
        e.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").cast("long").alias("session_start"),
            F.col("session_window.end").cast("long").alias("session_end"),
            "n_events",
        )
    )


# --------------------------------------------------------------------------
# O24 — two-level islands with per-group set union, on events: level 1 =
# value-decile islands per user (gap<=1, len>=3); level 2 = islands over
# the union of the members' event-id residues (gap<=2, len>=2)
# --------------------------------------------------------------------------
@register(
    "two_level_islands",
    sql="""
    WITH v AS (SELECT DISTINCT user_id, CAST(floor(value / 10) AS INT) AS bucket FROM events),
    d1 AS (SELECT user_id, bucket,
                  CASE WHEN bucket - lag(bucket) OVER (PARTITION BY user_id ORDER BY bucket) > 1
                       THEN 1 ELSE 0 END AS brk
           FROM v),
    s1 AS (SELECT user_id, bucket,
                  sum(brk) OVER (PARTITION BY user_id ORDER BY bucket
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
           FROM d1),
    k1 AS (SELECT user_id, bucket, min(bucket) OVER (PARTITION BY user_id, isl) AS p_isl,
                  count(*) OVER (PARTITION BY user_id, isl) AS sz
           FROM s1),
    lvl1 AS (SELECT user_id, bucket, p_isl FROM k1 WHERE sz >= 3),
    uni AS (SELECT DISTINCT l.user_id, l.p_isl, CAST(e.event_id % 25 AS INT) AS res
            FROM lvl1 l JOIN events e
              ON e.user_id = l.user_id AND CAST(floor(e.value / 10) AS INT) = l.bucket),
    d2 AS (SELECT user_id, p_isl, res,
                  CASE WHEN res - lag(res) OVER (PARTITION BY user_id, p_isl ORDER BY res) > 2
                       THEN 1 ELSE 0 END AS brk
           FROM uni),
    s2 AS (SELECT user_id, p_isl, res,
                  sum(brk) OVER (PARTITION BY user_id, p_isl ORDER BY res
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
           FROM d2),
    k2 AS (SELECT user_id, p_isl, res,
                  min(res) OVER (PARTITION BY user_id, p_isl, isl) AS c_isl,
                  count(*) OVER (PARTITION BY user_id, p_isl, isl) AS sz
           FROM s2)
    SELECT user_id, CAST(p_isl AS INT) AS p_isl, CAST(min(res) AS INT) AS c_min,
           CAST(max(res) AS INT) AS c_max, CAST(count(*) AS BIGINT) AS c_size
    FROM k2 WHERE sz >= 2
    GROUP BY user_id, p_isl, c_isl
    """,
)
def two_level_islands_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.islands import find_islands

    e = load_table(spark, sf_dir, "events")
    v = e.select(
        "user_id", F.expr("CAST(floor(value / 10) AS INT)").alias("bucket")
    ).distinct()
    lvl1 = find_islands(v, ["user_id"], "bucket", 1, 3, island_col="p_isl")
    uni = (
        lvl1.join(
            e.withColumn("bucket", F.expr("CAST(floor(value / 10) AS INT)")),
            ["user_id", "bucket"],
        )
        .select("user_id", "p_isl", (F.col("event_id") % 25).cast("int").alias("res"))
        .distinct()
    )
    lvl2 = find_islands(uni, ["user_id", "p_isl"], "res", 2, 2, island_col="c_isl")
    return lvl2.groupBy("user_id", "p_isl", "c_isl").agg(
        F.min("res").alias("c_min"),
        F.max("res").alias("c_max"),
        F.count(F.lit(1)).alias("c_size"),
    ).select(
        "user_id", F.col("p_isl").cast("int"), "c_min", "c_max", "c_size"
    )


# --------------------------------------------------------------------------
# O28 — intra-row cross product via double explode
# --------------------------------------------------------------------------
@register(
    "double_explode",
    sql="""
    WITH g AS (SELECT l_orderkey,
                      list(DISTINCT l_suppkey) AS sks,
                      list(DISTINCT l_partkey) AS pks
               FROM lineitem WHERE l_orderkey % 100 = 0
               GROUP BY l_orderkey)
    SELECT DISTINCT l_orderkey, sk AS suppkey, pk AS partkey
    FROM g, unnest(sks) u1(sk), unnest(pks) u2(pk)
    """,
)
def double_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 100 == 0)
    g = li.groupBy("l_orderkey").agg(
        F.collect_set("l_suppkey").alias("sks"),
        F.collect_set("l_partkey").alias("pks"),
    )
    return (
        g.select("l_orderkey", F.explode("sks").alias("suppkey"), "pks")
        .select("l_orderkey", "suppkey", F.explode("pks").alias("partkey"))
        .distinct()
    )


# --------------------------------------------------------------------------
# O24 set-union via flatten(collect_list(...)) + array_distinct
# --------------------------------------------------------------------------
@register(
    "set_union_flatten",
    sql="""
    WITH per_order AS (SELECT l_orderkey, list(DISTINCT l_suppkey) AS sks
                       FROM lineitem GROUP BY l_orderkey)
    SELECT o_custkey,
           array_to_string(list(DISTINCT sk ORDER BY sk), ',') AS all_suppkeys
    FROM per_order
    JOIN orders ON o_orderkey = l_orderkey, unnest(sks) u(sk)
    GROUP BY o_custkey
    """,
)
def set_union_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    per_order = li.groupBy("l_orderkey").agg(F.collect_set("l_suppkey").alias("sks"))
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.concat_ws(
                ",",
                F.sort_array(F.array_distinct(F.flatten(F.collect_list("sks")))),
            ).alias("all_suppkeys")
        )
    )


# --------------------------------------------------------------------------
# O19 — index rebasing projection arithmetic
# --------------------------------------------------------------------------
@register(
    "index_rebase",
    sql="""
    SELECT l_orderkey, l_linenumber,
           l_linenumber - 1 AS line_idx0,
           l_orderkey * 10 + l_linenumber AS global_pos
    FROM lineitem WHERE l_orderkey % 50 = 0
    """,
)
def index_rebase(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 50 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_linenumber") - 1).alias("line_idx0"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("global_pos"),
    )


# --------------------------------------------------------------------------
# embedding-cosine near-dup (exact baseline; LSH variant is the scale path,
# equivalence-tested in tests/test_extensions.py)
# --------------------------------------------------------------------------
_NEAR_DUP_T = 0.5


@register(
    "dedup_embedding_cosine",
    sql=f"""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.v, b.v) /
                 (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                 6) AS cos_sim
    FROM emb a JOIN emb b ON a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.v, b.v) /
                (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                6) >= {_NEAR_DUP_T}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.embedding_near_dup(
        load_table(spark, sf_dir, "embeddings"), threshold=_NEAR_DUP_T
    )


# --------------------------------------------------------------------------
# IVF top-k (deterministic coarse quantizer, n_probe cells) — full oracle
# --------------------------------------------------------------------------
_IVF_CELLS, _IVF_PROBE, _IVF_K, _IVF_NQ = 16, 2, 5, 8

_COS = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


@register(
    "similarity_topk_ivf",
    sql=f"""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cents AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, v AS cvec
              FROM emb ORDER BY vec_id LIMIT {_IVF_CELLS}),
    assigned AS (
        SELECT vec_id, v, cell FROM (
            SELECT e.vec_id, e.v, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {_COS.format(a="e.v", b="c.cvec")} DESC, c.cell) AS rn
            FROM emb e, cents c)
        WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < {_IVF_NQ}),
    probes AS (
        SELECT query_id, qv, cell FROM (
            SELECT q.query_id, q.qv, c.cell,
                   row_number() OVER (PARTITION BY q.query_id
                       ORDER BY {_COS.format(a="q.qv", b="c.cvec")} DESC, c.cell) AS rn
            FROM q, cents c)
        WHERE rn <= {_IVF_PROBE}),
    scored AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               {_COS.format(a="p.qv", b="a.v")} AS s
        FROM probes p JOIN assigned a ON a.cell = p.cell
        WHERE p.query_id <> a.vec_id)
    SELECT query_id, neighbor_id, CAST(rk AS INT) AS rk, round(s, 6) AS sim
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY s DESC, neighbor_id) AS rk
          FROM scored)
    WHERE rk <= {_IVF_K}
    """,
)
def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.topk_ivf(
        emb, F.col("vec_id") < _IVF_NQ, k=_IVF_K, n_cells=_IVF_CELLS, n_probe=_IVF_PROBE
    )


# --------------------------------------------------------------------------
# composed training-data pipeline: quality → language → exact dedup →
# near-dup removal, one DAG, full SQL restatement as the oracle
# --------------------------------------------------------------------------
_CC_MIN, _CC_MAX, _CC_T = 5, 10_000, 0.8


@register(
    "pipeline_corpus_clean",
    sql=f"""
    WITH norm0 AS (SELECT doc_id, text,
                          lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t
                   FROM documents),
    stats AS (SELECT doc_id, t,
                     CAST(len(string_split(t, ' ')) AS BIGINT) AS n_words,
                     {", ".join(f"{_sql_lang_score(lang)} AS score_{lang}" for lang in sorted(text.LANG_MARKERS))}
              FROM norm0),
    langed AS (SELECT doc_id, t, n_words,
                      CASE WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
                           {"".join(f"WHEN score_{lang} = greatest(score_de, score_en, score_es, score_fr) THEN '{lang}' " for lang in sorted(text.LANG_MARKERS))}
                           ELSE 'und' END AS pred_lang
               FROM stats),
    base AS (SELECT * FROM langed
             WHERE n_words BETWEEN {_CC_MIN} AND {_CC_MAX} AND pred_lang = 'en'),
    exact AS (SELECT doc_id, t, pred_lang, n_words FROM (
                  SELECT *, min(doc_id) OVER (PARTITION BY md5(t)) AS keep
                  FROM base)
              WHERE doc_id = keep),
    words AS (SELECT doc_id, t, string_split(t, ' ') AS w FROM exact),
    shingles AS (
        SELECT DISTINCT doc_id,
               CASE WHEN len(w) < 3 THEN t
                    ELSE array_to_string(w[i:i+2], ' ') END AS shingle
        FROM words, unnest(generate_series(1, greatest(len(w) - 2, 1))) s(i)),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id),
    drops AS (
        SELECT DISTINCT doc_b AS doc_id
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= {_CC_T})
    SELECT e.doc_id, e.pred_lang, e.n_words
    FROM exact e LEFT JOIN drops d ON d.doc_id = e.doc_id
    WHERE d.doc_id IS NULL
    """,
)
def pipeline_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .corpus import clean_corpus

    return clean_corpus(
        load_table(spark, sf_dir, "documents"),
        lang="en",
        min_words=_CC_MIN,
        max_words=_CC_MAX,
        jaccard_threshold=_CC_T,
    )


# --------------------------------------------------------------------------
# corpus clean with TRANSITIVE cluster dedup (one representative per
# duplicate cluster; greedy can keep several when no direct pair links
# them) — recursive-CTE oracle over the same pair graph
# --------------------------------------------------------------------------
@register(
    "pipeline_corpus_clean_clustered",
    sql=f"""
    WITH RECURSIVE norm0 AS (SELECT doc_id, text,
                          lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t
                   FROM documents),
    stats AS (SELECT doc_id, t,
                     CAST(len(string_split(t, ' ')) AS BIGINT) AS n_words,
                     {", ".join(f"{_sql_lang_score(lang)} AS score_{lang}" for lang in sorted(text.LANG_MARKERS))}
              FROM norm0),
    langed AS (SELECT doc_id, t, n_words,
                      CASE WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
                           {"".join(f"WHEN score_{lang} = greatest(score_de, score_en, score_es, score_fr) THEN '{lang}' " for lang in sorted(text.LANG_MARKERS))}
                           ELSE 'und' END AS pred_lang
               FROM stats),
    base AS (SELECT * FROM langed
             WHERE n_words BETWEEN {_CC_MIN} AND {_CC_MAX} AND pred_lang = 'en'),
    exact AS (SELECT doc_id, t, pred_lang, n_words FROM (
                  SELECT *, min(doc_id) OVER (PARTITION BY md5(t)) AS keep
                  FROM base)
              WHERE doc_id = keep),
    words AS (SELECT doc_id, t, string_split(t, ' ') AS w FROM exact),
    shingles AS (
        SELECT DISTINCT doc_id,
               CASE WHEN len(w) < 3 THEN t
                    ELSE array_to_string(w[i:i+2], ' ') END AS shingle
        FROM words, unnest(generate_series(1, greatest(len(w) - 2, 1))) s(i)),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id),
    pairs AS (
        SELECT doc_a, doc_b
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= {_CC_T}),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION
        SELECT doc_b AS u, doc_a AS v FROM pairs),
    reach(node, lbl) AS (
        SELECT u, u FROM edges
        UNION
        SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.node),
    comp AS (SELECT node AS doc_id, min(lbl) AS cluster_id
             FROM reach GROUP BY node),
    drop2 AS (SELECT doc_id FROM comp WHERE doc_id <> cluster_id)
    SELECT e.doc_id, e.pred_lang, e.n_words
    FROM exact e LEFT JOIN drop2 d ON d.doc_id = e.doc_id
    WHERE d.doc_id IS NULL
    """,
)
def pipeline_corpus_clean_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """clean_corpus with the transitive cluster drop rule: exactly one
    min-id representative survives per duplicate cluster."""
    from .corpus import clean_corpus

    return clean_corpus(
        load_table(spark, sf_dir, "documents"),
        lang="en",
        min_words=_CC_MIN,
        max_words=_CC_MAX,
        jaccard_threshold=_CC_T,
        near_dedup="clusters",
    )


# --------------------------------------------------------------------------
# corpus clean with the LINEAR-OUTPUT banded near-dup path: MinHash band
# buckets + per-bucket min-id keep — never a pair expansion (a duplicate
# group of size m costs m band rows, not m²/2 pairs). The oracle
# restates the band arithmetic on the exact-dedup survivors.
# --------------------------------------------------------------------------
@register(
    "pipeline_corpus_clean_banded",
    sql=f"""
    WITH norm0 AS (SELECT doc_id, text,
                          lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t
                   FROM documents),
    stats AS (SELECT doc_id, t,
                     CAST(len(string_split(t, ' ')) AS BIGINT) AS n_words,
                     {", ".join(f"{_sql_lang_score(lang)} AS score_{lang}" for lang in sorted(text.LANG_MARKERS))}
              FROM norm0),
    langed AS (SELECT doc_id, t, n_words,
                      CASE WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
                           {"".join(f"WHEN score_{lang} = greatest(score_de, score_en, score_es, score_fr) THEN '{lang}' " for lang in sorted(text.LANG_MARKERS))}
                           ELSE 'und' END AS pred_lang
               FROM stats),
    base AS (SELECT * FROM langed
             WHERE n_words BETWEEN {_CC_MIN} AND {_CC_MAX} AND pred_lang = 'en'),
    exact AS (SELECT doc_id, t, pred_lang, n_words FROM (
                  SELECT *, min(doc_id) OVER (PARTITION BY md5(t)) AS keep
                  FROM base)
              WHERE doc_id = keep),
    words AS (SELECT doc_id, t, string_split(t, ' ') AS w FROM exact),
    shingles AS (
        SELECT DISTINCT doc_id,
               CASE WHEN len(w) < 3 THEN t
                    ELSE array_to_string(w[i:i+2], ' ') END AS shingle
        FROM words, unnest(generate_series(1, greatest(len(w) - 2, 1))) s(i)),
    mh AS (
        SELECT doc_id, s.seed,
               min(((2 * s.seed + 1)
                    * (CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) % 2147483647)
                    + (s.seed * s.seed + 7)) % 2147483647) AS minhash
        FROM shingles, unnest(generate_series(0, 11)) s(seed)
        GROUP BY doc_id, s.seed),
    bands AS (
        SELECT doc_id, seed // 3 AS band,
               string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY seed) AS band_sig
        FROM mh GROUP BY doc_id, seed // 3),
    mins AS (SELECT band, band_sig, min(doc_id) AS mn
             FROM bands GROUP BY band, band_sig),
    dropsb AS (
        SELECT DISTINCT b.doc_id
        FROM bands b JOIN mins m
          ON b.band = m.band AND b.band_sig = m.band_sig
        WHERE b.doc_id > m.mn)
    SELECT e.doc_id, e.pred_lang, e.n_words
    FROM exact e LEFT JOIN dropsb d ON d.doc_id = e.doc_id
    WHERE d.doc_id IS NULL
    """,
)
def pipeline_corpus_clean_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """clean_corpus with near_dedup="minhash_bands" — the scale path:
    band-bucket min-id keep, linear shuffle and output per duplicate
    group (no pair expansion). Deferred — pytest-mirrored."""
    from .corpus import clean_corpus

    return clean_corpus(
        load_table(spark, sf_dir, "documents"),
        lang="en",
        min_words=_CC_MIN,
        max_words=_CC_MAX,
        near_dedup="minhash_bands",
    )


# --------------------------------------------------------------------------
# clean → chunk → split: the full corpus-to-training-set DAG
# --------------------------------------------------------------------------
_T2_CHUNK, _T2_OVERLAP, _T2_VAL = 32, 8, 10
_T2_STRIDE = _T2_CHUNK - _T2_OVERLAP

# the survivor CTEs are pipeline_corpus_clean's, verbatim
_SURVIVOR_CTES = f"""
    norm0 AS (SELECT doc_id, text,
                     lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t
              FROM documents),
    stats AS (SELECT doc_id, t,
                     CAST(len(string_split(t, ' ')) AS BIGINT) AS n_words,
                     {{lang_scores}}
              FROM norm0),
    langed AS (SELECT doc_id, t, n_words,
                      CASE WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
                           {{lang_cases}}
                           ELSE 'und' END AS pred_lang
               FROM stats),
    base AS (SELECT * FROM langed
             WHERE n_words BETWEEN {_CC_MIN} AND {_CC_MAX} AND pred_lang = 'en'),
    exact AS (SELECT doc_id, t, pred_lang, n_words FROM (
                  SELECT *, min(doc_id) OVER (PARTITION BY md5(t)) AS keep
                  FROM base)
              WHERE doc_id = keep),
    words AS (SELECT doc_id, t, string_split(t, ' ') AS w FROM exact),
    shingles AS (
        SELECT DISTINCT doc_id,
               CASE WHEN len(w) < 3 THEN t
                    ELSE array_to_string(w[i:i+2], ' ') END AS shingle
        FROM words, unnest(generate_series(1, greatest(len(w) - 2, 1))) s(i)),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id),
    drops AS (
        SELECT DISTINCT doc_b AS doc_id
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= {_CC_T})
"""


@register(
    "pipeline_corpus_to_training",
    sql=f"""
    WITH {_SURVIVOR_CTES.format(
        lang_scores=", ".join(f"{_sql_lang_score(lang)} AS score_{lang}" for lang in sorted(text.LANG_MARKERS)),
        lang_cases="".join(f"WHEN score_{lang} = greatest(score_de, score_en, score_es, score_fr) THEN '{lang}' " for lang in sorted(text.LANG_MARKERS)),
    )},
    surv AS (
        SELECT e.doc_id, e.t
        FROM exact e LEFT JOIN drops d ON d.doc_id = e.doc_id
        WHERE d.doc_id IS NULL),
    words2 AS (SELECT doc_id, string_split(t, ' ') AS w,
                      len(string_split(t, ' ')) AS n
               FROM surv),
    starts AS (
        SELECT doc_id, w, n, CAST(s.s AS INT) AS start
        FROM words2,
             unnest(generate_series(
                 0,
                 greatest(CAST(ceil((n - {_T2_CHUNK}) / {_T2_STRIDE}.0) AS INT), 0) * {_T2_STRIDE},
                 {_T2_STRIDE})) s(s))
    SELECT doc_id, CAST(start // {_T2_STRIDE} AS INT) AS chunk_id,
           array_to_string(w[start + 1 : start + {_T2_CHUNK}], ' ') AS chunk_text,
           CAST(least({_T2_CHUNK}, n - start) AS BIGINT) AS n_tokens,
           CASE WHEN CAST(('0x' || substr(md5('split-v1:' || CAST(doc_id AS VARCHAR)), 1, 8))
                     AS BIGINT) % 100 < {_T2_VAL}
                THEN 'val' ELSE 'train' END AS split
    FROM starts
    """,
)
def pipeline_corpus_to_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """clean → chunk → split as one DAG: the training-set materialiser.
    Chunking runs on the cleaned survivors; the split is a per-document
    hash column on the chunk rows (no join, no extra corpus scan)."""
    from .corpus import corpus_to_training

    out = corpus_to_training(
        load_table(spark, sf_dir, "documents"),
        lang="en",
        min_words=_CC_MIN,
        max_words=_CC_MAX,
        jaccard_threshold=_CC_T,
        chunk_tokens=_T2_CHUNK,
        overlap=_T2_OVERLAP,
        val_pct=_T2_VAL,
    )
    return out.select(
        "doc_id", "chunk_id", "chunk_text",
        F.col("n_tokens").cast("long").alias("n_tokens"), "split",
    )


# --------------------------------------------------------------------------
# sequence packing: chunks → fixed-token packed training sequences,
# shard-local (no global sort) — the concat-and-pack step after chunking
# --------------------------------------------------------------------------
_PK_SEQ, _PK_SHARDS = 64, 4


@register(
    "pipeline_pack_sequences",
    sql=f"""
    WITH {_SURVIVOR_CTES.format(
        lang_scores=", ".join(f"{_sql_lang_score(lang)} AS score_{lang}" for lang in sorted(text.LANG_MARKERS)),
        lang_cases="".join(f"WHEN score_{lang} = greatest(score_de, score_en, score_es, score_fr) THEN '{lang}' " for lang in sorted(text.LANG_MARKERS)),
    )},
    surv AS (
        SELECT e.doc_id, e.t
        FROM exact e LEFT JOIN drops d ON d.doc_id = e.doc_id
        WHERE d.doc_id IS NULL),
    words2 AS (SELECT doc_id, string_split(t, ' ') AS w,
                      len(string_split(t, ' ')) AS n
               FROM surv),
    starts AS (
        SELECT doc_id, w, n, CAST(s.s AS INT) AS start
        FROM words2,
             unnest(generate_series(
                 0,
                 greatest(CAST(ceil((n - {_T2_CHUNK}) / {_T2_STRIDE}.0) AS INT), 0) * {_T2_STRIDE},
                 {_T2_STRIDE})) s(s)),
    chunks AS (
        SELECT doc_id, CAST(start // {_T2_STRIDE} AS INT) AS chunk_id,
               CAST(least({_T2_CHUNK}, n - start) AS BIGINT) AS n_tokens,
               CASE WHEN CAST(('0x' || substr(md5('split-v1:' || CAST(doc_id AS VARCHAR)), 1, 8))
                         AS BIGINT) % 100 < {_T2_VAL}
                    THEN 'val' ELSE 'train' END AS split
        FROM starts),
    sharded AS (
        SELECT *,
               CAST(('0x' || substr(md5('pack-v1:' || CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % {_PK_SHARDS} AS shard
        FROM chunks),
    packed AS (
        SELECT doc_id, chunk_id, split, shard,
               CAST(sum(n_tokens) OVER (PARTITION BY split, shard
                                        ORDER BY doc_id, chunk_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) - n_tokens
                    AS BIGINT) AS start_tok
        FROM sharded)
    SELECT doc_id, chunk_id, split, CAST(shard AS BIGINT) AS shard,
           CAST(floor(start_tok / {_PK_SEQ}.0) AS BIGINT) AS seq_id,
           start_tok % {_PK_SEQ} AS seq_offset
    FROM packed
    """,
)
def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """clean → chunk → split → PACK: chunks laid head-to-tail per
    (split, md5-shard) partition and cut into fixed-token sequences —
    shard-local window prefix-sum, no global sort (the 100 TB shape)."""
    from .corpus import corpus_to_training

    chunks = corpus_to_training(
        load_table(spark, sf_dir, "documents"),
        lang="en",
        min_words=_CC_MIN,
        max_words=_CC_MAX,
        jaccard_threshold=_CC_T,
        chunk_tokens=_T2_CHUNK,
        overlap=_T2_OVERLAP,
        val_pct=_T2_VAL,
    )
    return text.pack_sequences(
        chunks, seq_tokens=_PK_SEQ, n_shards=_PK_SHARDS
    )


# --------------------------------------------------------------------------
# packed-sequence document spans: the attention-mask contract (which
# token ranges of each packed sequence belong to which document, with
# boundary straddles resolved) — composes the pack oracle + one
# generate_series explosion over the covered sequences
# --------------------------------------------------------------------------
@register(
    "pipeline_pack_doc_spans",
    sql=f"""
    WITH {_SURVIVOR_CTES.format(
        lang_scores=", ".join(f"{_sql_lang_score(lang)} AS score_{lang}" for lang in sorted(text.LANG_MARKERS)),
        lang_cases="".join(f"WHEN score_{lang} = greatest(score_de, score_en, score_es, score_fr) THEN '{lang}' " for lang in sorted(text.LANG_MARKERS)),
    )},
    surv AS (
        SELECT e.doc_id, e.t
        FROM exact e LEFT JOIN drops d ON d.doc_id = e.doc_id
        WHERE d.doc_id IS NULL),
    words2 AS (SELECT doc_id, string_split(t, ' ') AS w,
                      len(string_split(t, ' ')) AS n
               FROM surv),
    starts AS (
        SELECT doc_id, w, n, CAST(s.s AS INT) AS start
        FROM words2,
             unnest(generate_series(
                 0,
                 greatest(CAST(ceil((n - {_T2_CHUNK}) / {_T2_STRIDE}.0) AS INT), 0) * {_T2_STRIDE},
                 {_T2_STRIDE})) s(s)),
    chunks AS (
        SELECT doc_id, CAST(start // {_T2_STRIDE} AS INT) AS chunk_id,
               CAST(least({_T2_CHUNK}, n - start) AS BIGINT) AS n_tokens,
               CASE WHEN CAST(('0x' || substr(md5('split-v1:' || CAST(doc_id AS VARCHAR)), 1, 8))
                         AS BIGINT) % 100 < {_T2_VAL}
                    THEN 'val' ELSE 'train' END AS split
        FROM starts),
    sharded AS (
        SELECT *,
               CAST(('0x' || substr(md5('pack-v1:' || CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % {_PK_SHARDS} AS shard
        FROM chunks),
    packed AS (
        SELECT doc_id, chunk_id, split, shard, n_tokens,
               CAST(sum(n_tokens) OVER (PARTITION BY split, shard
                                        ORDER BY doc_id, chunk_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) - n_tokens
                    AS BIGINT) AS start_tok
        FROM packed_src),
    spanned AS (
        SELECT split, shard, doc_id, chunk_id, start_tok, n_tokens,
               CAST(q.q AS BIGINT) AS seq_id
        FROM packed,
             unnest(generate_series(start_tok // {_PK_SEQ},
                                    (start_tok + n_tokens - 1) // {_PK_SEQ})) q(q))
    SELECT split, CAST(shard AS BIGINT) AS shard, seq_id, doc_id, chunk_id,
           CAST(greatest(start_tok, seq_id * {_PK_SEQ})
                - seq_id * {_PK_SEQ} AS BIGINT) AS begin_tok,
           CAST(least(start_tok + n_tokens, (seq_id + 1) * {_PK_SEQ})
                - seq_id * {_PK_SEQ} AS BIGINT) AS end_tok
    FROM spanned
    """.replace("FROM packed_src", "FROM sharded"),
)
def pipeline_pack_doc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sequence document spans of the packed training set — the
    masking contract consumers of pack_sequences need (straddles
    resolved to in-sequence [begin, end) ranges). Deferred —
    pytest-mirrored."""
    from .corpus import corpus_to_training

    chunks = corpus_to_training(
        load_table(spark, sf_dir, "documents"),
        lang="en",
        min_words=_CC_MIN,
        max_words=_CC_MAX,
        jaccard_threshold=_CC_T,
        chunk_tokens=_T2_CHUNK,
        overlap=_T2_OVERLAP,
        val_pct=_T2_VAL,
    )
    packed = text.pack_sequences(
        chunks, seq_tokens=_PK_SEQ, n_shards=_PK_SHARDS, keep_tokens=True
    )
    return text.packed_doc_spans(packed, seq_tokens=_PK_SEQ)


# --------------------------------------------------------------------------
# LSH-bucketed approximate top-k (the multi-probe kernel at n_probe=1)
# — the md5-parity hyperplanes are reproduced in SQL, so even the
# approximate path is hash-checked
# --------------------------------------------------------------------------
_LSH_PLANES = 6


@register(
    "similarity_topk_lsh",
    sql=f"""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    pl AS (
        SELECT t.p,
               list(CASE WHEN CAST(('0x' || substr(md5(CAST(t.p AS VARCHAR)
                        || ':' || CAST(s.j AS VARCHAR)), 1, 8)) AS BIGINT)
                        % 2 = 0
                    THEN 1.0 ELSE -1.0 END ORDER BY s.j) AS plane
        FROM unnest(generate_series(0, {_LSH_PLANES - 1})) t(p),
             unnest(generate_series(0, 63)) s(j)
        GROUP BY t.p),
    b AS (
        SELECT e.vec_id,
               CAST(sum(CASE WHEN list_dot_product(e.v, pl.plane) > 0
                        THEN CAST(power(2, pl.p) AS BIGINT) ELSE 0 END)
                    AS BIGINT) AS bucket
        FROM emb e, pl GROUP BY e.vec_id),
    q AS (SELECT b.vec_id AS query_id, e.v AS qv, b.bucket
          FROM b JOIN emb e ON e.vec_id = b.vec_id
          WHERE b.vec_id < {_N_QUERIES}),
    c AS (SELECT b.vec_id AS neighbor_id, e.v AS cv, b.bucket
          FROM b JOIN emb e ON e.vec_id = b.vec_id),
    scored AS (
        SELECT q.query_id, c.neighbor_id,
               {_COS.format(a="q.qv", b="c.cv")} AS s
        FROM q JOIN c ON q.bucket = c.bucket
        WHERE q.query_id <> c.neighbor_id)
    SELECT query_id, neighbor_id, CAST(rk AS INT) AS rk, round(s, 6) AS sim
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY s DESC, neighbor_id) AS rk
          FROM scored)
    WHERE rk <= {_TOPK_K}
    """,
)
def similarity_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.topk_lsh_multiprobe(
        emb, F.col("vec_id") < _N_QUERIES, k=_TOPK_K, n_planes=_LSH_PLANES,
        n_probe=1,
    )


# --------------------------------------------------------------------------
# multi-probe LSH: flip the lowest-|margin| plane bits — recall climbs
# toward brute force; the margin ordering is restated in SQL so even
# the probe-selection logic is hash-checked
# --------------------------------------------------------------------------
_LSH_NPROBE = 3


@register(
    "similarity_topk_lsh_multiprobe",
    sql=f"""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    pl AS (
        SELECT t.p,
               list(CASE WHEN CAST(('0x' || substr(md5(CAST(t.p AS VARCHAR)
                        || ':' || CAST(s.j AS VARCHAR)), 1, 8)) AS BIGINT)
                        % 2 = 0
                    THEN 1.0 ELSE -1.0 END ORDER BY s.j) AS plane
        FROM unnest(generate_series(0, {_LSH_PLANES - 1})) t(p),
             unnest(generate_series(0, 63)) s(j)
        GROUP BY t.p),
    d AS (
        SELECT e.vec_id, pl.p, list_dot_product(e.v, pl.plane) AS dot
        FROM emb e, pl),
    b AS (
        SELECT vec_id,
               CAST(sum(CASE WHEN dot > 0
                        THEN CAST(power(2, p) AS BIGINT) ELSE 0 END)
                    AS BIGINT) AS bucket
        FROM d GROUP BY vec_id),
    q AS (SELECT b.vec_id AS query_id, e.v AS qv, b.bucket
          FROM b JOIN emb e ON e.vec_id = b.vec_id
          WHERE b.vec_id < {_N_QUERIES}),
    flips AS (
        SELECT vec_id AS query_id, p FROM (
            SELECT vec_id, p,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY abs(dot), p) AS rn
            FROM d WHERE vec_id < {_N_QUERIES})
        WHERE rn <= {_LSH_NPROBE - 1}),
    probes AS (
        SELECT query_id, qv, bucket FROM q
        UNION ALL
        SELECT q.query_id, q.qv,
               xor(q.bucket, CAST(power(2, f.p) AS BIGINT)) AS bucket
        FROM q JOIN flips f ON f.query_id = q.query_id),
    c AS (SELECT b.vec_id AS neighbor_id, e.v AS cv, b.bucket
          FROM b JOIN emb e ON e.vec_id = b.vec_id),
    scored AS (
        SELECT p.query_id, c.neighbor_id,
               {{cos}} AS s
        FROM probes p JOIN c ON p.bucket = c.bucket
        WHERE p.query_id <> c.neighbor_id)
    SELECT query_id, neighbor_id, CAST(rk AS INT) AS rk, round(s, 6) AS sim
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY s DESC, neighbor_id) AS rk
          FROM scored)
    WHERE rk <= {_TOPK_K}
    """.format(cos=_COS.format(a="p.qv", b="c.cv")),
)
def similarity_topk_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.topk_lsh_multiprobe(
        emb, F.col("vec_id") < _N_QUERIES, k=_TOPK_K,
        n_planes=_LSH_PLANES, n_probe=_LSH_NPROBE,
    )


# --------------------------------------------------------------------------
# ANN recall@k as a hard driver signal — exact top-k LEFT JOIN the
# multi-probe LSH top-k, per-query hit count with zero-fill (a zero-hit
# query must surface as recall 0, not vanish). The oracle reuses the two
# already-green oracle texts verbatim as derived tables, so any drift in
# either path breaks this row too.
# --------------------------------------------------------------------------
def _register_similarity_recall() -> None:
    exact_sql = _ORACLE["similarity_topk"]
    approx_sql = _ORACLE["similarity_topk_lsh_multiprobe"]
    register(
        "similarity_recall",
        sql=f"""
        SELECT e.query_id,
               CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
               round(count(a.neighbor_id) / {_TOPK_K}, 4) AS recall
        FROM ({exact_sql}) e
        LEFT JOIN ({approx_sql}) a
          ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        GROUP BY e.query_id
        """,
    )(_similarity_recall)


def _similarity_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.recall_vs_bruteforce(
        emb, F.col("vec_id") < _N_QUERIES, k=_TOPK_K,
        n_planes=_LSH_PLANES, n_probe=_LSH_NPROBE, method="lsh",
    )


_register_similarity_recall()


# --------------------------------------------------------------------------
# IVF with ONE Lloyd (k-means) refinement iteration — the centroid means
# fold in vec_id order on both engines, so every double matches exactly
# --------------------------------------------------------------------------
@register(
    "similarity_topk_ivf_refined",
    sql=f"""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cents0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, v AS cvec
               FROM emb ORDER BY vec_id LIMIT {_IVF_CELLS}),
    assigned0 AS (
        SELECT vec_id, v, cell FROM (
            SELECT e.vec_id, e.v, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {_COS.format(a="e.v", b="c.cvec")} DESC, c.cell) AS rn
            FROM emb e, cents0 c)
        WHERE rn = 1),
    comps AS (
        SELECT a.cell, a.vec_id, s.pos, a.v[s.pos] AS val
        FROM assigned0 a, unnest(generate_series(1, len(a.v))) s(pos)),
    means AS (
        SELECT cell, pos, sum(val ORDER BY vec_id) / count(*) AS m
        FROM comps GROUP BY cell, pos),
    cents1 AS (SELECT cell, list(m ORDER BY pos) AS cvec FROM means GROUP BY cell),
    assigned1 AS (
        SELECT vec_id, v, cell FROM (
            SELECT e.vec_id, e.v, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {_COS.format(a="e.v", b="c.cvec")} DESC, c.cell) AS rn
            FROM emb e, cents1 c)
        WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < {_IVF_NQ}),
    probes AS (
        SELECT query_id, qv, cell FROM (
            SELECT q.query_id, q.qv, c.cell,
                   row_number() OVER (PARTITION BY q.query_id
                       ORDER BY {_COS.format(a="q.qv", b="c.cvec")} DESC, c.cell) AS rn
            FROM q, cents1 c)
        WHERE rn <= {_IVF_PROBE}),
    scored AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               {_COS.format(a="p.qv", b="a.v")} AS s
        FROM probes p JOIN assigned1 a ON a.cell = p.cell
        WHERE p.query_id <> a.vec_id)
    SELECT query_id, neighbor_id, CAST(rk AS INT) AS rk, round(s, 6) AS sim
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY s DESC, neighbor_id) AS rk
          FROM scored)
    WHERE rk <= {_IVF_K}
    """,
)
def similarity_topk_ivf_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.topk_ivf(
        emb,
        F.col("vec_id") < _IVF_NQ,
        k=_IVF_K,
        n_cells=_IVF_CELLS,
        n_probe=_IVF_PROBE,
        refine_iters=1,
    )


# --------------------------------------------------------------------------
# benchmark decontamination: n-gram overlap vs a held-out eval set
# (benchmark = the deterministic doc_id % 19 == 0 slice of the corpus —
# self-contained so the oracle runs on the same tables)
# --------------------------------------------------------------------------
@register(
    "dedup_decontaminate",
    sql=f"""
    WITH {_SHINGLES},
    bench AS (SELECT DISTINCT shingle FROM shingles WHERE doc_id % 19 = 0)
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(count(b.shingle) AS BIGINT) AS n_hits,
           CAST(count(b.shingle) > 0 AS INT) AS contaminated
    FROM shingles s LEFT JOIN bench b USING (shingle)
    GROUP BY s.doc_id
    """,
)
def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 19 == 0)
    return dedup.decontaminate(docs, bench, k=3)


# --------------------------------------------------------------------------
# multi-benchmark decontamination: one corpus pass, per-benchmark
# attribution (benchmarks = the mod-19 and mod-23 slices — docs
# divisible by both attribute to both)
# --------------------------------------------------------------------------
@register(
    "dedup_decontaminate_multi",
    sql=f"""
    WITH {_SHINGLES},
    bmap AS (
        SELECT doc_id, 'mod19' AS bench_id FROM documents WHERE doc_id % 19 = 0
        UNION ALL
        SELECT doc_id, 'mod23' AS bench_id FROM documents WHERE doc_id % 23 = 0),
    bsh AS (SELECT DISTINCT b.bench_id, s.shingle
            FROM shingles s JOIN bmap b USING (doc_id))
    SELECT s.doc_id, b.bench_id, CAST(count(*) AS BIGINT) AS n_hits
    FROM shingles s JOIN bsh b USING (shingle)
    GROUP BY s.doc_id, b.bench_id
    """,
)
def dedup_decontaminate_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-benchmark contamination attribution in one corpus pass
    (deferred — pytest-mirrored; single-benchmark mechanics evidenced
    by the green dedup_decontaminate row)."""
    docs = load_table(spark, sf_dir, "documents")
    benchmarks = (
        docs.filter(F.col("doc_id") % 19 == 0)
        .select("doc_id", "text")
        .withColumn("bench_id", F.lit("mod19"))
        .unionByName(
            docs.filter(F.col("doc_id") % 23 == 0)
            .select("doc_id", "text")
            .withColumn("bench_id", F.lit("mod23"))
        )
    )
    return dedup.decontaminate_multi(docs, benchmarks, k=3)


# --------------------------------------------------------------------------
# repetition screens: duplicate word n-gram fractions (narrow projection)
# --------------------------------------------------------------------------
def _sql_rep(k: int) -> str:
    return f"""
    g{k} AS (
        SELECT doc_id,
               CASE WHEN len(w) < {k} THEN t
                    ELSE array_to_string(w[i:i+{k - 1}], ' ') END AS g
        FROM words, unnest(generate_series(1, greatest(len(w) - {k - 1}, 1))) s(i)),
    a{k} AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_grams_{k},
               CAST(count(*) - count(DISTINCT g) AS BIGINT) AS n_dup_{k}
        FROM g{k} GROUP BY doc_id)"""


@register(
    "text_repetition",
    sql=f"""
    WITH norm AS ({_NORM}),
    words AS (SELECT doc_id, t, string_split(t, ' ') AS w FROM norm),
    {_sql_rep(2)},
    {_sql_rep(3)}
    SELECT a2.doc_id,
           n_grams_2, n_dup_2, round(n_dup_2 / n_grams_2, 4) AS dup_frac_2,
           n_grams_3, n_dup_3, round(n_dup_3 / n_grams_3, 4) AS dup_frac_3
    FROM a2 JOIN a3 ON a2.doc_id = a3.doc_id
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.repetition_scores(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# domain-weighted deterministic sampling (mixture reweighting)
# --------------------------------------------------------------------------
_SAMPLE_RATES = {"src0": 100, "src1": 50, "src2": 25, "src3": 10, "src4": 0}
_SAMPLE_DEFAULT = 75


@register(
    "text_sample_domains",
    sql=f"""
    SELECT doc_id, source FROM documents
    WHERE CAST(('0x' || substr(md5('sample-v1:' || CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 100
          < CASE source
              {" ".join(f"WHEN '{d}' THEN {p}" for d, p in sorted(_SAMPLE_RATES.items()))}
              ELSE {_SAMPLE_DEFAULT} END
    """,
)
def text_sample_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.sample_by_domain(
        load_table(spark, sf_dir, "documents"),
        _SAMPLE_RATES,
        default_pct=_SAMPLE_DEFAULT,
    )


# --------------------------------------------------------------------------
# PII redaction — deterministic PII is injected from doc_id so the regex
# rules demonstrably FIRE on every row (the synthetic corpus carries no
# natural PII); the oracle restates injection + the same RE2/Java-common
# patterns, so the redacted text itself is value-hashed
# --------------------------------------------------------------------------
@register(
    "text_redact_pii",
    sql=f"""
    WITH injected AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                    || '.7 call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                    || '-0199' AS t
        FROM documents),
    e AS (SELECT doc_id,
                 CAST(len(regexp_extract_all(t, '{text.PII_EMAIL_RE}')) AS BIGINT) AS n_emails,
                 regexp_replace(t, '{text.PII_EMAIL_RE}', '<EMAIL>', 'g') AS t1
          FROM injected),
    i AS (SELECT doc_id, n_emails,
                 CAST(len(regexp_extract_all(t1, '{text.PII_IP_RE}')) AS BIGINT) AS n_ips,
                 regexp_replace(t1, '{text.PII_IP_RE}', '<IP>', 'g') AS t2
          FROM e)
    SELECT doc_id,
           regexp_replace(t2, '{text.PII_PHONE_RE}', '<PHONE>', 'g') AS clean_text,
           n_emails, n_ips,
           CAST(len(regexp_extract_all(t2, '{text.PII_PHONE_RE}')) AS BIGINT) AS n_phones
    FROM i
    """,
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 call 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-0199"),
        ).alias("text"),
    )
    return text.redact_pii(injected)


# --------------------------------------------------------------------------
# sub-document (segment/paragraph-level) exact dedup — RefinedWeb/Dolma
# "line dedup" pass at word-window granularity (corpus has no newlines)
# --------------------------------------------------------------------------
_SEG = 8  # words per segment


@register(
    "dedup_paragraphs",
    sql=f"""
    WITH norm AS ({_NORM}),
    words AS (SELECT doc_id, string_split(t, ' ') AS w, len(string_split(t, ' ')) AS n
              FROM norm),
    starts AS (
        SELECT doc_id, w, n, CAST(s.s AS INT) AS start
        FROM words,
             unnest(generate_series(
                 0,
                 greatest(CAST(ceil((n - {_SEG}) / {_SEG}.0) AS INT), 0) * {_SEG},
                 {_SEG})) s(s)),
    segs AS (
        SELECT doc_id, CAST(start // {_SEG} AS INT) AS chunk_id,
               array_to_string(w[start + 1 : start + {_SEG}], ' ') AS chunk_text
        FROM starts),
    ranked AS (
        SELECT doc_id, chunk_id, chunk_text,
               row_number() OVER (PARTITION BY md5(chunk_text)
                                  ORDER BY doc_id, chunk_id) AS rn
        FROM segs)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           coalesce(string_agg(CASE WHEN rn = 1 THEN chunk_text END, ' '
                               ORDER BY chunk_id), '') AS dedup_text
    FROM ranked
    GROUP BY doc_id
    """,
)
def dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.segment_dedup(
        load_table(spark, sf_dir, "documents"), seg_words=_SEG
    )


# --------------------------------------------------------------------------
# Gopher document-quality rules (Rae et al. 2021 — public heuristic):
# all signals + composite keep flag, thresholds at the published values
# --------------------------------------------------------------------------
@register(
    "text_gopher_quality",
    sql=f"""
    WITH norm AS (SELECT doc_id, text,
                         lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t
                  FROM documents),
    sig AS (
        SELECT doc_id,
               CAST(len(string_split(t, ' ')) AS BIGINT) AS n_words,
               (length(t) - len(string_split(t, ' ')) + 1)
                   / len(string_split(t, ' ')) AS mean_wl,
               ((length(text) - length(replace(text, '#', '')))
                + (length(text) - length(replace(text, '...', ''))) / 3
                + (length(text) - length(replace(text, '…', ''))))
                   / len(string_split(t, ' ')) AS symbol_r,
               len(list_filter(string_split(text, chr(10)),
                               ln -> regexp_matches(trim(ln), '^[-*•]')))
                   / len(string_split(text, chr(10))) AS bullet_f,
               len(list_filter(string_split(text, chr(10)),
                               ln -> regexp_matches(trim(ln), '(\\.\\.\\.|…)$')))
                   / len(string_split(text, chr(10))) AS ellipsis_f,
               len(list_filter(string_split(t, ' '),
                               w -> regexp_matches(w, '[a-z]')))
                   / len(string_split(t, ' ')) AS alpha_f,
               {_sql_count_words_in(text.GOPHER_REQUIRED_WORDS)} AS req_hits
        FROM norm)
    SELECT doc_id, n_words,
           round(mean_wl, 4)   AS mean_word_len,
           round(symbol_r, 4)  AS symbol_ratio,
           round(bullet_f, 4)  AS bullet_line_frac,
           round(ellipsis_f, 4) AS ellipsis_line_frac,
           round(alpha_f, 4)   AS alpha_word_frac,
           req_hits            AS n_required_hits,
           CAST(n_words BETWEEN 50 AND 100000
                AND mean_wl BETWEEN 3.0 AND 10.0
                AND symbol_r <= 0.1
                AND bullet_f <= 0.9
                AND ellipsis_f <= 0.3
                AND alpha_f >= 0.8
                AND req_hits >= 2 AS INT) AS keep
    FROM sig
    """,
)
def text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.gopher_quality(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Bloom-filter decontamination — the scale path of dedup_decontaminate:
# fixed-size bitmap broadcast instead of the benchmark shingle strings.
# The oracle restates the bitmap as position-set membership (a bit is
# set iff SOME benchmark shingle hashes to it — identical semantics).
# --------------------------------------------------------------------------
_BLOOM_M, _BLOOM_K = 1 << 20, 4


@register(
    "dedup_decontaminate_bloom",
    sql=f"""
    WITH {_SHINGLES},
    bench AS (SELECT DISTINCT shingle FROM shingles WHERE doc_id % 19 = 0),
    seeds AS (SELECT unnest(generate_series(0, {_BLOOM_K - 1})) AS j),
    bpos AS (
        SELECT DISTINCT
               CAST(('0x' || substr(md5('bloom-' || CAST(j AS VARCHAR) || ':' || shingle), 1, 15))
                    AS BIGINT) % {_BLOOM_M} AS p
        FROM bench, seeds),
    cpos AS (
        SELECT doc_id, shingle, j,
               CAST(('0x' || substr(md5('bloom-' || CAST(j AS VARCHAR) || ':' || shingle), 1, 15))
                    AS BIGINT) % {_BLOOM_M} AS p
        FROM shingles, seeds),
    per_sh AS (
        SELECT doc_id, shingle,
               CAST(count(bp.p) = {_BLOOM_K} AS INT) AS maybe
        FROM cpos LEFT JOIN bpos bp USING (p)
        GROUP BY doc_id, shingle)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(maybe) AS BIGINT) AS n_maybe_hits,
           CAST(sum(maybe) > 0 AS INT) AS contaminated
    FROM per_sh
    GROUP BY doc_id
    """,
)
def dedup_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 19 == 0)
    bmp = dedup.bloom_bitmap(bench, m_bits=_BLOOM_M, k_hashes=_BLOOM_K, shingle_k=3)
    return dedup.decontaminate_bloom(
        docs, bmp, m_bits=_BLOOM_M, k_hashes=_BLOOM_K, shingle_k=3
    )


# --------------------------------------------------------------------------
# deterministic Lloyd k-means over embeddings (cluster-balanced curation)
# — the oracle unrolls each assign+recentre iteration as CTE pairs
# --------------------------------------------------------------------------
_KM_K, _KM_ITERS = 8, 2


def _kmeans_iter_sql(i: int) -> str:
    """CTE block: assign to cents{i}, recentre into cents{i+1}."""
    return f"""
    assigned{i} AS (
        SELECT vec_id, v, cell FROM (
            SELECT e.vec_id, e.v, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {_COS.format(a="e.v", b="c.cvec")} DESC, c.cell) AS rn
            FROM emb e, cents{i} c)
        WHERE rn = 1),
    comps{i} AS (
        SELECT a.cell, a.vec_id, s.pos, a.v[s.pos] AS val
        FROM assigned{i} a, unnest(generate_series(1, len(a.v))) s(pos)),
    means{i} AS (
        SELECT cell, pos, sum(val ORDER BY vec_id) / count(*) AS m
        FROM comps{i} GROUP BY cell, pos),
    cents{i + 1} AS (SELECT cell, list(m ORDER BY pos) AS cvec
                     FROM means{i} GROUP BY cell)"""


@register(
    "similarity_kmeans",
    sql=f"""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cents0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, v AS cvec
               FROM emb ORDER BY vec_id LIMIT {_KM_K}),
    {",".join(_kmeans_iter_sql(i) for i in range(_KM_ITERS))}
    SELECT vec_id, cluster, round(s, 6) AS sim FROM (
        SELECT e.vec_id, c.cell AS cluster,
               {_COS.format(a="e.v", b="c.cvec")} AS s,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY {_COS.format(a="e.v", b="c.cvec")} DESC, c.cell) AS rn
        FROM emb e, cents{_KM_ITERS} c)
    WHERE rn = 1
    """,
)
def similarity_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.kmeans(
        load_table(spark, sf_dir, "embeddings"), k=_KM_K, iters=_KM_ITERS
    )


# --------------------------------------------------------------------------
# tf-idf keyword extraction: top-k terms per document (smoothed idf)
# --------------------------------------------------------------------------
_TFIDF_K = 3


@register(
    "text_tfidf_topterms",
    sql=f"""
    WITH norm AS ({_NORM}),
    terms AS (SELECT doc_id, unnest(string_split(t, ' ')) AS term FROM norm),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM terms GROUP BY doc_id, term),
    dfq AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
            FROM terms GROUP BY term),
    n AS (SELECT count(*) AS nn FROM documents),
    scored AS (
        SELECT doc_id, term, tf, df,
               round(tf * ln((nn + 1.0) / (df + 1.0)), 6) AS tfidf
        FROM tf JOIN dfq USING (term), n)
    SELECT doc_id, term, tf, df, tfidf, CAST(rk AS INT) AS rk
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY tfidf DESC, term) AS rk
          FROM scored)
    WHERE rk <= {_TFIDF_K}
    """,
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.tfidf_top_terms(
        load_table(spark, sf_dir, "documents"), k=_TFIDF_K
    )


# --------------------------------------------------------------------------
# per-source corpus profile (docs, tokens, exact length percentiles)
# --------------------------------------------------------------------------
@register(
    "text_corpus_stats",
    sql=r"""
    WITH counts AS (
        SELECT source, lang,
               len(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS nw
        FROM documents)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(nw) AS BIGINT) AS total_tokens,
           round(avg(nw), 4) AS mean_tokens,
           round(quantile_cont(nw, 0.5), 4) AS median_tokens,
           round(quantile_cont(nw, 0.9), 4) AS p90_tokens,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
    FROM counts
    GROUP BY source
    """,
)
def text_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.corpus_stats(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Sliding time window (F.window with slide < width): each event lands in
# width/slide overlapping epoch-aligned windows. Oracle enumerates the
# valid window starts per event with generate_series.
# --------------------------------------------------------------------------
_SLIDE_W, _SLIDE_S = 21600, 10800  # 6-hour windows every 3 hours


@register(
    "sliding_window_batch",
    sql=f"""
    WITH e AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t,
                      value FROM events),
    wins AS (
        SELECT event_type, value, CAST(s.s AS BIGINT) AS ws
        FROM e,
             unnest(generate_series(
                 (t - {_SLIDE_W}) // {_SLIDE_S} * {_SLIDE_S} + {_SLIDE_S},
                 t // {_SLIDE_S} * {_SLIDE_S},
                 {_SLIDE_S})) s(s))
    SELECT event_type, ws AS window_start,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total_value
    FROM wins
    GROUP BY event_type, ws
    """,
)
def sliding_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        event_seconds(ev).cast("timestamp").alias("ts_t"),
        "value",
    )
    return (
        e.groupBy(F.window("ts_t", "6 hours", "3 hours"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "event_type",
            F.col("window.start").cast("long").alias("window_start"),
            "n_events",
            "total_value",
        )
    )


# --------------------------------------------------------------------------
# packing-efficiency report over the packed corpus (fill ratio per split)
# --------------------------------------------------------------------------
@register(
    "pipeline_pack_stats",
    sql=f"""
    WITH {_SURVIVOR_CTES.format(
        lang_scores=", ".join(f"{_sql_lang_score(lang)} AS score_{lang}" for lang in sorted(text.LANG_MARKERS)),
        lang_cases="".join(f"WHEN score_{lang} = greatest(score_de, score_en, score_es, score_fr) THEN '{lang}' " for lang in sorted(text.LANG_MARKERS)),
    )},
    surv AS (
        SELECT e.doc_id, e.t
        FROM exact e LEFT JOIN drops d ON d.doc_id = e.doc_id
        WHERE d.doc_id IS NULL),
    words2 AS (SELECT doc_id, string_split(t, ' ') AS w,
                      len(string_split(t, ' ')) AS n
               FROM surv),
    starts AS (
        SELECT doc_id, w, n, CAST(s.s AS INT) AS start
        FROM words2,
             unnest(generate_series(
                 0,
                 greatest(CAST(ceil((n - {_T2_CHUNK}) / {_T2_STRIDE}.0) AS INT), 0) * {_T2_STRIDE},
                 {_T2_STRIDE})) s(s)),
    chunks AS (
        SELECT doc_id, CAST(start // {_T2_STRIDE} AS INT) AS chunk_id,
               CAST(least({_T2_CHUNK}, n - start) AS BIGINT) AS n_tokens,
               CASE WHEN CAST(('0x' || substr(md5('split-v1:' || CAST(doc_id AS VARCHAR)), 1, 8))
                         AS BIGINT) % 100 < {_T2_VAL}
                    THEN 'val' ELSE 'train' END AS split
        FROM starts),
    sharded AS (
        SELECT *,
               CAST(('0x' || substr(md5('pack-v1:' || CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % {_PK_SHARDS} AS shard
        FROM chunks),
    packed AS (
        SELECT split, shard, n_tokens,
               CAST(floor((sum(n_tokens) OVER (PARTITION BY split, shard
                                               ORDER BY doc_id, chunk_id
                                               ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND CURRENT ROW) - n_tokens)
                          / {_PK_SEQ}.0) AS BIGINT) AS seq_id
        FROM sharded)
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(count(DISTINCT (shard, seq_id)) AS BIGINT) AS n_sequences,
           round(sum(n_tokens) / (count(DISTINCT (shard, seq_id)) * {_PK_SEQ}), 4)
               AS fill_ratio
    FROM packed
    GROUP BY split
    """,
)
def pipeline_pack_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency per split over the full clean→chunk→split→pack
    chain — same parameters as pipeline_pack_sequences."""
    from .corpus import corpus_to_training

    chunks = corpus_to_training(
        load_table(spark, sf_dir, "documents"),
        lang="en",
        min_words=_CC_MIN,
        max_words=_CC_MAX,
        jaccard_threshold=_CC_T,
        chunk_tokens=_T2_CHUNK,
        overlap=_T2_OVERLAP,
        val_pct=_T2_VAL,
    )
    return text.pack_stats(chunks, seq_tokens=_PK_SEQ, n_shards=_PK_SHARDS)


# --------------------------------------------------------------------------
# exact-k stratified sampling (budget per domain, hash-ranked)
# --------------------------------------------------------------------------
_SAMPLE_K = 7


@register(
    "text_sample_exact_k",
    sql=f"""
    SELECT doc_id, text, lang, source, n_chars
    FROM (
        SELECT *,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5('sample-v1:' || CAST(doc_id AS VARCHAR)), doc_id
               ) AS rk
        FROM documents)
    WHERE rk <= {_SAMPLE_K}
    """,
)
def text_sample_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.sample_exact_k(load_table(spark, sf_dir, "documents"), k=_SAMPLE_K)


# --------------------------------------------------------------------------
# cluster-balanced sampling: k-means over embeddings, then an exact
# hash-ranked budget per cluster — the semantic-diversity sampler
# (composes two oracle-green kernels; the oracle composes their SQL)
# --------------------------------------------------------------------------
_CB_K, _CB_BUDGET = 8, 9


@register(
    "pipeline_cluster_sample",
    sql=f"""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cents0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, v AS cvec
               FROM emb ORDER BY vec_id LIMIT {_CB_K}),
    {",".join(_kmeans_iter_sql(i) for i in range(2))},
    assign AS (
        SELECT vec_id, cluster FROM (
            SELECT e.vec_id, c.cell AS cluster,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {_COS.format(a="e.v", b="c.cvec")} DESC, c.cell) AS rn
            FROM emb e, cents2 c)
        WHERE rn = 1)
    SELECT vec_id, cluster
    FROM (
        SELECT vec_id, cluster,
               row_number() OVER (
                   PARTITION BY cluster
                   ORDER BY md5('cluster-sample-v1:' || CAST(vec_id AS VARCHAR)), vec_id
               ) AS rk
        FROM assign)
    WHERE rk <= {_CB_BUDGET}
    """,
)
def pipeline_cluster_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min(budget, |cluster|) vectors per semantic cluster: k-means
    assignment, then the deterministic hash-ranked exact-k sampler
    keyed by cluster instead of source."""
    assign = similarity.kmeans(
        load_table(spark, sf_dir, "embeddings"), k=_CB_K, iters=2
    ).select("vec_id", "cluster")
    return text.sample_exact_k(
        assign,
        k=_CB_BUDGET,
        domain_col="cluster",
        seed="cluster-sample-v1",
        id_col="vec_id",
    )


# --------------------------------------------------------------------------
# hashing-trick linear quality classifier (fastText-style scoring gate)
# --------------------------------------------------------------------------
_CLF_DIM, _CLF_SEED = 64, "qclf-v1"


@register(
    "text_classifier_score",
    sql=f"""
    WITH norm AS ({_NORM}),
    toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
    scored AS (
        SELECT doc_id,
               1.0 / (1.0 + exp(-(0.0 + list_reduce(
                   list_prepend(0.0, list_transform(w, tok ->
                       CAST(('0x' || substr(md5('{_CLF_SEED}:'
                               || CAST(CAST(('0x' || substr(md5('{_CLF_SEED}:' || tok), 1, 8)) AS BIGINT)
                                       % {_CLF_DIM} AS VARCHAR)), 1, 8)) AS BIGINT)
                           / 4294967296.0 - 0.5)),
                   (acc, x) -> acc + x)))) AS s
        FROM toks)
    SELECT doc_id, round(s, 6) AS clf_score, s >= 0.5 AS keep
    FROM scored
    """,
)
def text_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashing-trick quality gate: md5 token buckets →
    literal weight array lookup → one ``aggregate`` fold → sigmoid.
    Pure narrow projection (no explode, no join, no shuffle); the demo
    weight table is md5-derived so the oracle recomputes each weight
    inline instead of enumerating 64 literals."""
    return text.classifier_score(
        load_table(spark, sf_dir, "documents"),
        weights=text.default_classifier_weights(_CLF_DIM, _CLF_SEED),
        bias=0.0,
        threshold=0.5,
        seed=_CLF_SEED,
    )


# --------------------------------------------------------------------------
# Z-order (Morton) clustering key — multi-dimensional layout for file
# skipping (the OPTIMIZE ZORDER BY kernel)
# --------------------------------------------------------------------------
_Z_BITS = 16
_Z_A_LO, _Z_A_HI = 0, 10000       # o_custkey domain (table metadata)
_Z_B_LO, _Z_B_HI = 0, 600000      # floor(o_totalprice) domain


def _z_sql_scaled(col: str, lo: int, hi: int) -> str:
    span = max(hi - lo, 1)
    m = (1 << _Z_BITS) - 1
    return (
        f"CAST(floor((least(greatest(CAST({col} AS BIGINT), {lo}), {hi})"
        f" - {lo}) * {m} * 1.0 / {span}) AS BIGINT)"
    )


@register(
    "layout_zorder_key",
    sql=f"""
    WITH s AS (
        SELECT o_orderkey,
               {_z_sql_scaled("o_custkey", _Z_A_LO, _Z_A_HI)} AS sa,
               {_z_sql_scaled("floor(o_totalprice)", _Z_B_LO, _Z_B_HI)} AS sb
        FROM orders)
    SELECT o_orderkey,
           {" + ".join(
               f"((((sa >> {i}) & 1) << {2 * i + 1}) + (((sb >> {i}) & 1) << {2 * i}))"
               for i in range(_Z_BITS)
           )} AS z
    FROM s
    """,
)
def layout_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Morton interleave that write_zordered clusters by, exposed
    as a checkable projection over orders (o_custkey × o_totalprice):
    the exact key Delta/Iceberg OPTIMIZE ZORDER BY computes, as pure
    shift/AND whole-stage-codegen arithmetic."""
    from ..sources import layout

    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        layout.zorder_key(
            F.col("o_custkey"),
            F.floor("o_totalprice"),
            _Z_A_LO, _Z_A_HI, _Z_B_LO, _Z_B_HI, _Z_BITS,
        ).alias("z"),
    )


# --------------------------------------------------------------------------
# incremental (shipment-over-history) exact dedup
# --------------------------------------------------------------------------
_INC_SPLIT = 250  # doc_id < split = history shipment, >= split = new shipment


@register(
    "dedup_incremental",
    sql=f"""
    WITH norm AS ({_NORM}),
    hist AS (SELECT DISTINCT md5(t) AS h FROM norm WHERE doc_id < {_INC_SPLIT}),
    new_docs AS (SELECT n.doc_id, md5(n.t) AS h FROM norm n WHERE doc_id >= {_INC_SPLIT}),
    fresh AS (SELECT * FROM new_docs WHERE h NOT IN (SELECT h FROM hist))
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM (SELECT min(doc_id) AS doc_id FROM fresh GROUP BY h) k
    JOIN documents d USING (doc_id)
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup of a new shipment against corpus history: documents
    with doc_id < 250 play the already-ingested history (only their
    hash table is kept), the rest arrive as the new shipment. History
    text is never rescanned — the history side is a hash-keyed
    left-anti join."""
    docs = load_table(spark, sf_dir, "documents")
    history = docs.filter(F.col("doc_id") < _INC_SPLIT)
    shipment = docs.filter(F.col("doc_id") >= _INC_SPLIT)
    seen = dedup.exact_dedup(history).select("text_hash")
    return dedup.incremental_exact_dedup(shipment, seen).select(
        "doc_id", "lang", "source", "n_chars"
    )


# --------------------------------------------------------------------------
# batch twin of the streaming interval join (attribution shape)
# --------------------------------------------------------------------------
@register(
    "interval_join_batch",
    sql="""
    WITH e AS (SELECT user_id, ts, event_type, value FROM events)
    SELECT c.user_id,
           CAST(floor(epoch(c.ts)) AS BIGINT) AS c_t,
           CAST(floor(epoch(v.ts)) AS BIGINT) AS v_t,
           c.event_type AS c_type, v.event_type AS v_type,
           round(c.value, 2) AS c_value, round(v.value, 2) AS v_value
    FROM e c JOIN e v
      ON c.user_id = v.user_id
     AND c.event_type = 'click' AND v.event_type = 'view'
     AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 4 HOUR
    """,
)
def interval_join_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming interval_join's batch twin on the events table:
    click←view attribution within 4 hours. Driver-checking this row
    hash-pins the exact join semantics the streaming operator runs
    (stream↔batch parity is pytest-pinned on the same code path)."""
    from ..streaming.ingest import interval_join

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id", event_seconds(ev).cast("timestamp").alias("ts"),
        "event_type", "value",
    )
    out = interval_join(
        e.filter(F.col("event_type") == "click"),
        e.filter(F.col("event_type") == "view"),
        within="4 hours",
        watermark="30 minutes",
    )
    return out.select(
        "user_id",
        F.col("c_ts").cast("long").alias("c_t"),
        F.col("v_ts").cast("long").alias("v_t"),
        F.col("c_type").alias("c_type"),
        F.col("v_type").alias("v_type"),
        F.round("c_value", 2).alias("c_value"),
        F.round("v_value", 2).alias("v_value"),
    )


# --------------------------------------------------------------------------
# data-mixture sampling: fill per-source token budgets
# --------------------------------------------------------------------------
_MIX_BUDGETS = {"src0": 4000, "src1": 2500, "src2": 1000}


@register(
    "text_mix_budget",
    sql=f"""
    WITH norm AS ({_NORM}),
    tok AS (
        SELECT n.doc_id, d.source,
               CAST(len(string_split(n.t, ' ')) AS BIGINT) AS n_tokens,
               md5('mix-v1:' || CAST(n.doc_id AS VARCHAR)) AS h
        FROM norm n JOIN documents d USING (doc_id)),
    budgets(source, budget) AS (VALUES {", ".join(f"('{s}', {b})" for s, b in sorted(_MIX_BUDGETS.items()))}),
    cum AS (
        SELECT t.doc_id, t.source, t.n_tokens, b.budget,
               sum(t.n_tokens) OVER (
                   PARTITION BY t.source ORDER BY t.h, t.doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum_tokens
        FROM tok t JOIN budgets b USING (source))
    SELECT doc_id, source, n_tokens, cum_tokens
    FROM cum WHERE cum_tokens <= budget
    """,
)
def text_mix_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget mixture draw over documents: the
    deterministic hash-ordered prefix of each source whose cumulative
    whitespace-token count fits that source's budget."""
    return text.mix_by_budget(
        load_table(spark, sf_dir, "documents"), budgets=_MIX_BUDGETS
    )


# --------------------------------------------------------------------------
# IVF recall@k — quality signal for the second approximate path (the
# LSH multi-probe path already has similarity_recall)
# --------------------------------------------------------------------------
def _register_similarity_recall_ivf() -> None:
    exact_sql = _ORACLE["similarity_topk"]
    approx_sql = _ORACLE["similarity_topk_ivf_refined"]
    register(
        "similarity_recall_ivf",
        sql=f"""
        SELECT e.query_id,
               CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
               round(count(a.neighbor_id) / {_TOPK_K}, 4) AS recall
        FROM ({exact_sql}) e
        LEFT JOIN ({approx_sql}) a
          ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        GROUP BY e.query_id
        """,
    )(_similarity_recall_ivf)


def _similarity_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the Lloyd-refined IVF index vs the exact top-k —
    both subqueries are the very oracle texts of their own green rows,
    so drift in either path breaks this row too."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.recall_vs_bruteforce(
        emb, F.col("vec_id") < _IVF_NQ, k=_IVF_K, method="ivf",
        n_cells=_IVF_CELLS, n_probe=_IVF_PROBE, refine_iters=1,
    )


_register_similarity_recall_ivf()


# --------------------------------------------------------------------------
# quality-based cluster representatives (keep the BEST duplicate)
# --------------------------------------------------------------------------
def _register_cluster_representatives() -> None:
    clusters_sql = _ORACLE["dedup_clusters"]
    register(
        "dedup_cluster_representatives",
        sql=f"""
        WITH members AS (
            SELECT c.cluster_id, c.doc_id, d.n_chars
            FROM ({clusters_sql}) c JOIN documents d USING (doc_id))
        SELECT cluster_id,
               -- scalar composite of (n_chars DESC, doc_id ASC): ids are
               -- far below 1e7 at oracle scale, so the key is collision-free
               arg_max(doc_id, n_chars * 10000000 - doc_id) AS rep_doc_id,
               arg_max(n_chars, n_chars * 10000000 - doc_id) AS rep_score,
               CAST(count(*) AS BIGINT) AS n_members
        FROM members GROUP BY cluster_id
        """,
    )(_dedup_cluster_representatives)


def _dedup_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-quality representative per transitive duplicate cluster
    (score = n_chars, ties to smallest id) — the keep-policy a real
    dedup planner applies instead of min-id."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(docs, threshold=0.5)
    clusters = dedup.connected_components(pairs, check_every=2)
    return dedup.cluster_representatives(clusters, docs)


_register_cluster_representatives()


# --------------------------------------------------------------------------
# winnowing fingerprints (MOSS) + sparse overlap pairs
# --------------------------------------------------------------------------
_WIN_K, _WIN_W, _WIN_SHARED = 4, 4, 2

_WINNOW_FPS = f"""
    norm AS ({_NORM}),
    words AS (SELECT doc_id, t, string_split(t, ' ') AS w FROM norm),
    grams AS (
        SELECT doc_id,
               CASE WHEN len(w) < {_WIN_K} THEN [t]
                    ELSE list_transform(generate_series(1, len(w) - {_WIN_K} + 1),
                                        i -> array_to_string(w[i:i+{_WIN_K}-1], ' '))
               END AS g
        FROM words),
    hashes AS (
        SELECT doc_id,
               list_transform(g, x ->
                   CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)) AS h
        FROM grams),
    winnowed AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(h) - {_WIN_W} + 1, 1)),
                   i -> list_min(h[i:i+{_WIN_W}-1]))) AS fps
        FROM hashes)
"""


@register(
    "text_winnow_fingerprints",
    sql=f"""
    WITH {_WINNOW_FPS}
    SELECT doc_id, u.fp FROM winnowed, unnest(fps) u(fp)
    """,
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprints: windowed-min selection over the
    k-gram hash sequence — ~2/(window+1) density with a guaranteed-
    detection floor for shared runs >= window+k-1 words."""
    return text.winnow_fingerprints(
        load_table(spark, sf_dir, "documents"), k=_WIN_K, window=_WIN_W
    )


@register(
    "dedup_winnow_pairs",
    sql=f"""
    WITH {_WINNOW_FPS},
    fps AS (SELECT doc_id, u.fp FROM winnowed, unnest(fps) u(fp))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= {_WIN_SHARED}
    """,
)
def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlap candidate pairs over the sparse winnowed index — the
    same inverted-index join as the shingle kernels moving an order of
    magnitude fewer rows."""
    return text.winnow_overlap_pairs(
        load_table(spark, sf_dir, "documents"),
        min_shared=_WIN_SHARED, k=_WIN_K, window=_WIN_W,
    )


# --------------------------------------------------------------------------
# percentile-threshold quality gate: keep the top fraction by score
# --------------------------------------------------------------------------
_TOPFRAC = 0.2


@register(
    "text_keep_top_fraction",
    sql=f"""
    WITH norm AS ({_NORM}),
    toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
    scored AS (
        SELECT doc_id,
               1.0 / (1.0 + exp(-(0.0 + list_reduce(
                   list_prepend(0.0, list_transform(w, tok ->
                       CAST(('0x' || substr(md5('{_CLF_SEED}:'
                               || CAST(CAST(('0x' || substr(md5('{_CLF_SEED}:' || tok), 1, 8)) AS BIGINT)
                                       % {_CLF_DIM} AS VARCHAR)), 1, 8)) AS BIGINT)
                           / 4294967296.0 - 0.5)),
                   (acc, x) -> acc + x)))) AS s
        FROM toks),
    cut AS (SELECT quantile_cont(s, {1.0 - _TOPFRAC}) AS c FROM scored)
    SELECT doc_id, round(s, 6) AS clf_score
    FROM scored, cut WHERE s >= c
    """,
)
def text_keep_top_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-calibrating quality gate: classifier-score the corpus, then
    keep the top 20% by the exact interpolating percentile (one-row
    aggregate broadcast back as the filter)."""
    scored = text.classifier_score(
        load_table(spark, sf_dir, "documents"),
        weights=text.default_classifier_weights(_CLF_DIM, _CLF_SEED),
        seed=_CLF_SEED,
    ).select("doc_id", "clf_score")
    return text.keep_top_fraction(scored, _TOPFRAC, "clf_score")


# --------------------------------------------------------------------------
# SemDeDup-style semantic dedup: k-means bounds the pair search to
# within-cluster, never a global O(N^2) cross join (Abbas et al. 2023).
# Oracle composes the unrolled-Lloyd CTEs with the pair/drop stages.
# --------------------------------------------------------------------------
_SEM_EPS = 0.5


@register(
    "dedup_semantic",
    sql=f"""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cents0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, v AS cvec
               FROM emb ORDER BY vec_id LIMIT {_KM_K}),
    {",".join(_kmeans_iter_sql(i) for i in range(_KM_ITERS))},
    final AS (
        SELECT vec_id, v, cluster, round(s, 6) AS sim FROM (
            SELECT e.vec_id, e.v, c.cell AS cluster,
                   {_COS.format(a="e.v", b="c.cvec")} AS s,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {_COS.format(a="e.v", b="c.cvec")} DESC, c.cell) AS rn
            FROM emb e, cents{_KM_ITERS} c)
        WHERE rn = 1),
    drops AS (
        SELECT DISTINCT b.vec_id
        FROM final a JOIN final b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        WHERE round({_COS.format(a="a.v", b="b.v")}, 6) >= {_SEM_EPS})
    SELECT f.vec_id, f.cluster, f.sim,
           CAST(d.vec_id IS NULL AS INT) AS kept
    FROM final f LEFT JOIN drops d USING (vec_id)
    """,
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup over the embedding column: cluster first (k-means,
    broadcast centroids), pair-compare only within clusters, greedy
    min-id keep at cosine >= eps."""
    return dedup.semantic_dedup(
        load_table(spark, sf_dir, "embeddings"),
        k=_KM_K,
        iters=_KM_ITERS,
        eps=_SEM_EPS,
    )


# --------------------------------------------------------------------------
# bigram-LM fluency scoring (KenLM-style): corpus-trained add-alpha
# smoothed bigram model, per-doc mean NLL + perplexity. The per-doc sum
# folds in position order so both engines agree bit-for-bit.
# --------------------------------------------------------------------------
_LM_ALPHA = 0.5


@register(
    "text_perplexity_bigram",
    sql=f"""
    WITH norm AS ({_NORM}),
    toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
    idx AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
            FROM toks WHERE len(w) >= 2),
    bg AS (SELECT doc_id, i, w[i] AS w1, w[i+1] AS w2 FROM idx),
    c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n12 FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, CAST(sum(n12) AS BIGINT) AS n1 FROM c2 GROUP BY w1),
    v AS (SELECT count(DISTINCT w2) AS vv FROM bg),
    scored AS (
        SELECT bg.doc_id, bg.i,
               -ln((c2.n12 + {_LM_ALPHA}) / (c1.n1 + {_LM_ALPHA} * v.vv)) AS nll
        FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v),
    agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                   sum(nll ORDER BY i) AS s
            FROM scored GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           round(a.s / a.n_bigrams, 6) AS avg_nll,
           round(exp(a.s / a.n_bigrams), 4) AS ppl
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def text_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-self-trained bigram LM fluency score per document."""
    return text.bigram_lm_scores(
        load_table(spark, sf_dir, "documents"), alpha=_LM_ALPHA
    )


# --------------------------------------------------------------------------
# Product-Quantization ANN (ADC over per-subspace codebooks) — the
# compressed-domain third ANN family next to LSH and IVF. The oracle
# restates codebook training, encoding and the ADC table-lookup sum.
# --------------------------------------------------------------------------
_PQ_M, _PQ_KC, _PQ_DSUB = 8, 16, 8  # 64-dim embeddings -> 8 subspaces of 8


def _pq_topk_sql(k: int) -> str:
    """Full PQ/ADC top-k oracle text, parameterized by k (the refined
    row composes a rerank-sized shortlist from the same construction)."""
    return f"""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    nrm AS (SELECT vec_id,
                   list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
            FROM emb),
    top AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code, nv
            FROM nrm ORDER BY vec_id LIMIT {_PQ_KC}),
    subs AS (SELECT CAST(unnest(generate_series(0, {_PQ_M - 1})) AS INT) AS sub),
    cb AS (SELECT s.sub, t.code,
                  t.nv[s.sub * {_PQ_DSUB} + 1 : s.sub * {_PQ_DSUB} + {_PQ_DSUB}] AS cvec
           FROM top t, subs s),
    cvs AS (SELECT n.vec_id, s.sub,
                   n.nv[s.sub * {_PQ_DSUB} + 1 : s.sub * {_PQ_DSUB} + {_PQ_DSUB}] AS sv
            FROM nrm n, subs s),
    codes AS (
        SELECT vec_id, sub, code FROM (
            SELECT c.vec_id, c.sub, b.code,
                   row_number() OVER (PARTITION BY c.vec_id, c.sub
                       ORDER BY list_dot_product(c.sv, b.cvec) DESC, b.code) AS rn
            FROM cvs c JOIN cb b USING (sub))
        WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, nv FROM nrm WHERE vec_id < {_IVF_NQ}),
    qtab AS (SELECT q.query_id, b.sub, b.code,
                    list_dot_product(
                        q.nv[b.sub * {_PQ_DSUB} + 1 : b.sub * {_PQ_DSUB} + {_PQ_DSUB}],
                        b.cvec) AS d
             FROM q, cb b),
    scored AS (
        SELECT t.query_id, c.vec_id AS neighbor_id, sum(t.d ORDER BY t.sub) AS sim
        FROM codes c JOIN qtab t USING (sub, code)
        WHERE t.query_id <> c.vec_id
        GROUP BY t.query_id, c.vec_id)
    SELECT query_id, neighbor_id, CAST(rk AS INT) AS rk, round(sim, 6) AS sim
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, neighbor_id) AS rk
          FROM scored)
    WHERE rk <= {k}
    """


@register("similarity_topk_pq", sql=_pq_topk_sql(_IVF_K))
def similarity_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k: corpus carried as m per-subspace codes; queries carry
    broadcast lookup tables."""
    return similarity.topk_pq(
        load_table(spark, sf_dir, "embeddings"),
        F.col("vec_id") < _IVF_NQ,
        k=_IVF_K,
        m=_PQ_M,
        kc=_PQ_KC,
    )


# --------------------------------------------------------------------------
# boilerplate removal: segments repeating across >= min_df DISTINCT
# documents are dropped from EVERY document (frequency form of
# line-dedup; segment_dedup above is the first-occurrence form)
# --------------------------------------------------------------------------
_BP_MIN_DF = 2


@register(
    "dedup_boilerplate",
    sql=f"""
    WITH norm AS ({_NORM}),
    words AS (SELECT doc_id, string_split(t, ' ') AS w, len(string_split(t, ' ')) AS n
              FROM norm),
    starts AS (
        SELECT doc_id, w, n, CAST(s.s AS INT) AS start
        FROM words,
             unnest(generate_series(
                 0,
                 greatest(CAST(ceil((n - {_SEG}) / {_SEG}.0) AS INT), 0) * {_SEG},
                 {_SEG})) s(s)),
    segs AS (
        SELECT doc_id, CAST(start // {_SEG} AS INT) AS chunk_id,
               array_to_string(w[start + 1 : start + {_SEG}], ' ') AS chunk_text
        FROM starts),
    dfq AS (
        SELECT md5(chunk_text) AS h, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        FROM segs GROUP BY md5(chunk_text))
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(sum(CASE WHEN df < {_BP_MIN_DF} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           coalesce(string_agg(CASE WHEN df < {_BP_MIN_DF} THEN chunk_text END, ' '
                               ORDER BY chunk_id), '') AS clean_text
    FROM segs JOIN dfq ON md5(chunk_text) = h
    GROUP BY doc_id
    """,
)
def dedup_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.drop_boilerplate(
        load_table(spark, sf_dir, "documents"), seg_words=_SEG, min_df=_BP_MIN_DF
    )


# --------------------------------------------------------------------------
# mixture interleaving: deterministic global training order with
# weight-proportional source shares at every prefix (probabilistic
# stride scheduling — pure projection, no per-source window)
# --------------------------------------------------------------------------
_IL_SEED = "interleave-v1"
_IL_WEIGHTS = {"src0": 4.0, "src1": 2.0}


@register(
    "text_interleave_sources",
    sql=f"""
    SELECT doc_id, source,
           round((CAST(('0x' || substr(md5('{_IL_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) / 4294967296.0)
                 / (CASE WHEN source = 'src0' THEN 4.0
                         WHEN source = 'src1' THEN 2.0
                         ELSE 1.0 END), 9) AS order_key
    FROM documents
    """,
)
def text_interleave_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.interleave_sources(
        load_table(spark, sf_dir, "documents"), _IL_WEIGHTS, seed=_IL_SEED
    )


# --------------------------------------------------------------------------
# intra-document repetition removal (ordered-distinct array fold; the
# within-doc complement of dedup_paragraphs / dedup_boilerplate)
# --------------------------------------------------------------------------
@register(
    "text_dedup_within_doc",
    sql=f"""
    WITH norm AS ({_NORM}),
    words AS (SELECT doc_id, string_split(t, ' ') AS w, len(string_split(t, ' ')) AS n
              FROM norm),
    starts AS (
        SELECT doc_id, w, n, CAST(s.s AS INT) AS start
        FROM words,
             unnest(generate_series(
                 0,
                 greatest(CAST(ceil((n - {_SEG}) / {_SEG}.0) AS INT), 0) * {_SEG},
                 {_SEG})) s(s)),
    segs AS (
        SELECT doc_id, CAST(start // {_SEG} AS INT) AS chunk_id,
               array_to_string(w[start + 1 : start + {_SEG}], ' ') AS chunk_text
        FROM starts),
    ranked AS (
        SELECT doc_id, chunk_id, chunk_text,
               row_number() OVER (PARTITION BY doc_id, chunk_text
                                  ORDER BY chunk_id) AS rn
        FROM segs)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           coalesce(string_agg(CASE WHEN rn = 1 THEN chunk_text END, ' '
                               ORDER BY chunk_id), '') AS clean_text
    FROM ranked
    GROUP BY doc_id
    """,
)
def text_dedup_within_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.dedup_within_doc(
        load_table(spark, sf_dir, "documents"), seg_words=_SEG
    )


# --------------------------------------------------------------------------
# count-min sketch heavy hitters: estimate the exact top-10 terms'
# frequencies from a fixed d x w count table; min-over-rows estimate is
# a guaranteed overestimate. Unlike the HLL/KLL binary sketches (no
# cross-engine oracle), this table-form CMS is fully SQL-restatable.
# --------------------------------------------------------------------------
_CMS_W, _CMS_D, _CMS_SEED, _CMS_TOPK = 256, 4, "cms-v1", 10


@register(
    "sketch_cms_term_counts",
    sql=f"""
    WITH norm AS ({_NORM}),
    toks AS (SELECT unnest(string_split(t, ' ')) AS term FROM norm),
    truec AS (SELECT term, CAST(count(*) AS BIGINT) AS true_cnt
              FROM toks GROUP BY term),
    top AS (SELECT term, true_cnt FROM (
                SELECT *, row_number() OVER (ORDER BY true_cnt DESC, term) AS rk
                FROM truec)
            WHERE rk <= {_CMS_TOPK}),
    seeds AS (SELECT CAST(unnest(generate_series(0, {_CMS_D - 1})) AS INT) AS j),
    cms AS (SELECT j,
                   CAST(('0x' || substr(md5('{_CMS_SEED}-' || CAST(j AS VARCHAR) || ':' || term), 1, 15))
                        AS BIGINT) % {_CMS_W} AS bucket,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM toks, seeds GROUP BY 1, 2),
    probes AS (SELECT t.term, t.true_cnt, s.j,
                      CAST(('0x' || substr(md5('{_CMS_SEED}-' || CAST(s.j AS VARCHAR) || ':' || t.term), 1, 15))
                           AS BIGINT) % {_CMS_W} AS bucket
               FROM top t, seeds s)
    SELECT p.term AS item, p.true_cnt,
           CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS est_cnt
    FROM probes p LEFT JOIN cms c USING (j, bucket)
    GROUP BY p.term, p.true_cnt
    """,
)
def sketch_cms_term_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketches
    from ..operators.dedup import normalized

    docs = load_table(spark, sf_dir, "documents")
    toks = normalized(docs).select(
        F.explode(F.split("_norm", " ")).alias("term")
    )
    truec = toks.groupBy("term").agg(F.count(F.lit(1)).alias("true_cnt"))
    top = truec.orderBy(F.col("true_cnt").desc(), "term").limit(_CMS_TOPK)
    cms = sketches.cms_table(toks, "term", w=_CMS_W, d=_CMS_D, seed=_CMS_SEED)
    est = sketches.cms_estimate(
        cms, top.select("term"), "term", w=_CMS_W, d=_CMS_D, seed=_CMS_SEED
    )
    return est.join(F.broadcast(top), est.item == top.term).select(
        "item", "true_cnt", "est_cnt"
    )


# --------------------------------------------------------------------------
# PQ recall row — every approximate family carries a quality signal
# (LSH: similarity_recall, IVF: similarity_recall_ivf, PQ: here); both
# subqueries are the oracle texts of their own green rows.
# --------------------------------------------------------------------------
def _register_similarity_recall_pq() -> None:
    exact_sql = _ORACLE["similarity_topk"]
    approx_sql = _ORACLE["similarity_topk_pq"]
    register(
        "similarity_recall_pq",
        sql=f"""
        SELECT e.query_id,
               CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
               round(count(a.neighbor_id) / {_TOPK_K}, 4) AS recall
        FROM ({exact_sql}) e
        LEFT JOIN ({approx_sql}) a
          ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        GROUP BY e.query_id
        """,
    )(_similarity_recall_pq)


def _similarity_recall_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the PQ/ADC path vs the exact top-k."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.recall_vs_bruteforce(
        emb, F.col("vec_id") < _N_QUERIES, k=_TOPK_K, method="pq"
    )


_register_similarity_recall_pq()


# --------------------------------------------------------------------------
# split-leakage report: near-dup pairs straddling the train/val split
# (eval hygiene — a val doc that paraphrases a train doc inflates
# validation scores). Composes the dedup_jaccard oracle with the
# split-hash CASE applied to each pair endpoint.
# --------------------------------------------------------------------------
def _register_split_leakage() -> None:
    pairs_sql = _ORACLE["dedup_jaccard"]
    split_case = (
        "CASE WHEN CAST(('0x' || substr(md5('split-v1:' || CAST({c} AS VARCHAR)), 1, 8)) "
        "AS BIGINT) % 100 < 10 THEN 'val' ELSE 'train' END"
    )
    register(
        "pipeline_split_leakage",
        sql=f"""
        SELECT doc_a, doc_b, jaccard,
               {split_case.format(c="doc_a")} AS split_a,
               {split_case.format(c="doc_b")} AS split_b,
               CAST({split_case.format(c="doc_a")}
                    <> {split_case.format(c="doc_b")} AS INT) AS leaks
        FROM ({pairs_sql})
        """,
    )(_pipeline_split_leakage)


def _pipeline_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs crossing the train/val boundary; the split is a
    pure column over each endpoint — no (doc_id, split) join."""
    return text.split_leakage_report(
        load_table(spark, sf_dir, "documents"),
        val_pct=10,
        seed="split-v1",
        jaccard_threshold=0.5,
    )


_register_split_leakage()


# --------------------------------------------------------------------------
# vocabulary drift between two corpus snapshots (KL + Jensen-Shannon
# over add-alpha-smoothed unigram distributions; snapshot split =
# doc_id parity). One vocabulary-sized term-ordered reduction.
# --------------------------------------------------------------------------
_VD_A = 0.5


@register(
    "text_vocab_drift",
    sql=f"""
    WITH norm AS ({_NORM}),
    ca AS (SELECT term, CAST(count(*) AS BIGINT) AS ca FROM (
               SELECT doc_id, unnest(string_split(t, ' ')) AS term FROM norm)
           WHERE doc_id % 2 = 0 GROUP BY term),
    cb AS (SELECT term, CAST(count(*) AS BIGINT) AS cb FROM (
               SELECT doc_id, unnest(string_split(t, ' ')) AS term FROM norm)
           WHERE doc_id % 2 = 1 GROUP BY term),
    j AS (SELECT term, coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
          FROM ca FULL OUTER JOIN cb USING (term)),
    tot AS (SELECT CAST(sum(ca) AS BIGINT) AS ta, CAST(sum(cb) AS BIGINT) AS tb,
                   CAST(count(*) AS BIGINT) AS v FROM j),
    pq AS (SELECT term, ta, tb, v,
                  (ca + {_VD_A}) / (ta + {_VD_A} * v) AS p,
                  (cb + {_VD_A}) / (tb + {_VD_A} * v) AS q
           FROM j, tot),
    c AS (SELECT term, ta, tb, v, p, q, (p + q) / 2 AS m FROM pq)
    SELECT ta AS n_tokens_a, tb AS n_tokens_b, v AS n_terms_union,
           round(sum(p * ln(p / q) ORDER BY term), 6) AS kl_ab,
           round(sum(p / 2 * ln(p / m) + q / 2 * ln(q / m) ORDER BY term), 6) AS js
    FROM c GROUP BY ta, tb, v
    """,
)
def text_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.vocab_drift(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        alpha=_VD_A,
    )


# --------------------------------------------------------------------------
# weighted sampling without replacement (Efraimidis-Spirakis A-ES):
# k docs with probability proportional to n_chars; priority rounded to
# 9 dp before ranking so libm last-ulp drift can't flip the order.
# --------------------------------------------------------------------------
_WS_K, _WS_SEED = 25, "wsample-v1"


@register(
    "text_weighted_sample",
    sql=f"""
    SELECT doc_id, n_chars, priority FROM (
        SELECT doc_id, n_chars,
               round(ln((CAST(('0x' || substr(md5('{_WS_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 8))
                              AS BIGINT) + 1.0) / 4294967297.0) / n_chars, 9) AS priority,
               row_number() OVER (
                   ORDER BY round(ln((CAST(('0x' || substr(md5('{_WS_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 8))
                                          AS BIGINT) + 1.0) / 4294967297.0) / n_chars, 9) DESC,
                            doc_id) AS rk
        FROM documents WHERE n_chars > 0)
    WHERE rk <= {_WS_K}
    """,
)
def text_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.weighted_sample_k(
        load_table(spark, sf_dir, "documents"), k=_WS_K,
        weight_col="n_chars", seed=_WS_SEED,
    ).select("doc_id", "n_chars", "priority")


# --------------------------------------------------------------------------
# fused quality profile: logically quality ⨝ language ⨝ repetition ⨝
# token-count, physically ONE projection (no join, no Exchange, one
# scan — plan-test-pinned). The oracle composes the four standalone
# rows' own oracle texts by join, so fused-vs-standalone drift breaks
# the hash.
# --------------------------------------------------------------------------
def _register_quality_profile() -> None:
    q = _ORACLE["text_quality"]
    lang = _ORACLE["text_language_id"]
    rep = _ORACLE["text_repetition"]
    tok = _ORACLE["text_token_count"]
    register(
        "text_quality_profile",
        sql=f"""
        SELECT q.doc_id, q.n_chars, q.n_words, q.avg_word_len,
               q.punct_ratio, q.stopword_ratio, l.pred_lang,
               r.n_grams_2, r.n_dup_2, r.dup_frac_2, t.n_bpe_ish_tokens
        FROM ({q}) q
        JOIN ({lang}) l USING (doc_id)
        JOIN ({rep}) r USING (doc_id)
        JOIN ({tok}) t USING (doc_id)
        """,
    )(_text_quality_profile)


def _text_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_profile(load_table(spark, sf_dir, "documents"))


_register_quality_profile()


# --------------------------------------------------------------------------
# PMI collocations: top-k adjacent pairs by pointwise mutual
# information (phrase mining / template-spam detection). PMI rounded
# to 9 dp before ranking; ties break (w1, w2).
# --------------------------------------------------------------------------
_PMI_K, _PMI_MIN = 15, 3


@register(
    "text_pmi_pairs",
    sql=f"""
    WITH norm AS ({_NORM}),
    toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
    uni AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM (
                SELECT unnest(w) AS term FROM toks) GROUP BY term),
    idx AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
            FROM toks WHERE len(w) >= 2),
    bg AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n12 FROM (
               SELECT w[i] AS w1, w[i+1] AS w2 FROM idx)
           GROUP BY w1, w2 HAVING count(*) >= {_PMI_MIN}),
    nu AS (SELECT CAST(sum(cnt) AS BIGINT) AS nu FROM uni),
    nb AS (SELECT CAST(sum(n12) AS BIGINT) AS nb FROM bg),
    scored AS (
        SELECT bg.w1, bg.w2, bg.n12,
               round(ln((bg.n12 / CAST(nb.nb AS DOUBLE))
                        / ((u1.cnt / CAST(nu.nu AS DOUBLE))
                           * (u2.cnt / CAST(nu.nu AS DOUBLE)))), 9) AS pmi
        FROM bg
        JOIN uni u1 ON u1.term = bg.w1
        JOIN uni u2 ON u2.term = bg.w2, nu, nb)
    SELECT w1, w2, n12, pmi, CAST(rk AS INT) AS rk FROM (
        SELECT *, row_number() OVER (ORDER BY pmi DESC, w1, w2) AS rk
        FROM scored)
    WHERE rk <= {_PMI_K}
    """,
)
def text_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.pmi_top_pairs(
        load_table(spark, sf_dir, "documents"), k=_PMI_K, min_count=_PMI_MIN
    )


# --------------------------------------------------------------------------
# REAL-codec multimodal row: deterministic 4x4 pixel grids derived from
# doc_id are encoded to actual BMP bytes, decoded by the real
# pure-Python codec, and featurized from the decoded pixels; the oracle
# recomputes every feature from the same pixel arithmetic — so a decode
# bug (channel order, row padding, top-down flip) breaks the hash.
# (The fake=True rows pin the Arrow plumbing; this row pins the codec.)
# --------------------------------------------------------------------------
_MMR_N = 64


@register(
    "multimodal_features_real",
    sql=f"""
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < {_MMR_N}),
    px AS (SELECT doc_id,
                  ((doc_id * 31 + x.x * 7 + y.y * 13) % 256) / 255.0 AS r,
                  ((doc_id * 31 + x.x * 7 + y.y * 13 + 5) % 256) / 255.0 AS g,
                  ((doc_id * 31 + x.x * 7 + y.y * 13 + 10) % 256) / 255.0 AS b
           FROM ids,
                unnest(generate_series(0, 3)) x(x),
                unnest(generate_series(0, 3)) y(y)),
    lum AS (SELECT doc_id, r, g, b,
                   0.2126 * r + 0.7152 * g + 0.0722 * b AS l
            FROM px),
    m AS (SELECT doc_id, avg(r) AS ar, avg(g) AS ag, avg(b) AS ab,
                 avg(l) AS ml, min(l) AS lmin, max(l) AS lmax
          FROM lum GROUP BY doc_id),
    sd AS (SELECT lum.doc_id,
                  sqrt(avg((lum.l - m.ml) * (lum.l - m.ml))) AS lstd
           FROM lum JOIN m USING (doc_id) GROUP BY lum.doc_id)
    SELECT m.doc_id AS asset_id,
           concat_ws(',',
               CAST(round(round(4 / 4096.0, 6) * 1000000) AS BIGINT),
               CAST(round(round(4 / 4096.0, 6) * 1000000) AS BIGINT),
               CAST(round(round(ar, 6) * 1000000) AS BIGINT),
               CAST(round(round(ag, 6) * 1000000) AS BIGINT),
               CAST(round(round(ab, 6) * 1000000) AS BIGINT),
               CAST(round(round(lstd, 6) * 1000000) AS BIGINT),
               CAST(round(round(lmin, 6) * 1000000) AS BIGINT),
               CAST(round(round(lmax, 6) * 1000000) AS BIGINT)) AS features_ppm
    FROM m JOIN sd ON sd.doc_id = m.doc_id
    """,
)
def multimodal_features_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-decode evidence row: pixels -> encode (BMP/PPM/PNG/GIF rotating
    by doc_id, so every LOSSLESS shipped codec — the zlib PNG inflate
    and the GIF LZW paths included — is on the hash) -> real decode -> image_features, all on
    executors. JPEG stays out of this rotation by necessity — the
    oracle recomputes features from the EXACT source pixels and JPEG is
    lossy; its decode is pinned by tests/test_jpeg.py instead."""
    from collections.abc import Iterator

    from ..operators import multimodal

    ids = load_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < _MMR_N
    )

    def gen(batches) -> Iterator:
        import numpy as np
        import pandas as pd

        from ..operators import codecs

        for pdf in batches:
            contents, metas = [], []
            for did in pdf["doc_id"]:
                arr = np.zeros((4, 4, 3), dtype=np.uint8)
                for y in range(4):
                    for x in range(4):
                        base = int(did) * 31 + x * 7 + y * 13
                        arr[y, x] = [base % 256, (base + 5) % 256, (base + 10) % 256]
                fmt = ("bmp", "ppm", "png", "gif")[int(did) % 4]
                contents.append(bytearray(codecs.encode_image(fmt, arr)))
                metas.append(
                    {"width": 4, "height": 4, "duration_ms": None, "codec": fmt}
                )
            yield pd.DataFrame(
                {
                    "asset_id": pdf["doc_id"],
                    "modality": "image/mixed",
                    "content": contents,
                    "meta": metas,
                }
            )

    media = ids.mapInPandas(gen, multimodal.MEDIA_SCHEMA)
    # features quantized to micro-units and string-joined: the compare
    # harness sorts rows by every column, which array columns can't do
    return multimodal.extract_features(media, fake=False).select(
        "asset_id",
        F.array_join(
            F.transform(
                "features",
                lambda v: F.round(v * 1e6).cast("long").cast("string"),
            ),
            ",",
        ).alias("features_ppm"),
    )


# --------------------------------------------------------------------------
# REAL perceptual-hash row: deterministic 8x8 pixel grids -> actual BMP
# bytes -> real decode -> fixed-point average hash. The oracle
# recomputes the hash from the pixel arithmetic (all integer: the luma
# threshold is exact on both engines by construction).
# --------------------------------------------------------------------------
@register(
    "multimodal_phash_real",
    sql=f"""
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < {_MMR_N}),
    px AS (SELECT doc_id, x.x AS x, y.y AS y,
                  2126 * ((doc_id * 31 + x.x * 7 + y.y * 13) % 256)
                + 7152 * ((doc_id * 31 + x.x * 7 + y.y * 13 + 5) % 256)
                +  722 * ((doc_id * 31 + x.x * 7 + y.y * 13 + 10) % 256) AS l
           FROM ids,
                unnest(generate_series(0, 7)) x(x),
                unnest(generate_series(0, 7)) y(y)),
    tot AS (SELECT doc_id, sum(l) AS tl FROM px GROUP BY doc_id),
    bits AS (SELECT px.doc_id, (px.y * 8 + px.x) AS i,
                    CAST(px.l * 64 > tot.tl AS INT) AS b
             FROM px JOIN tot USING (doc_id))
    SELECT doc_id AS asset_id,
           CAST(sum(CASE WHEN i < 32 THEN b * power(2, i) ELSE 0 END) AS BIGINT) AS h_hi,
           CAST(sum(CASE WHEN i >= 32 THEN b * power(2, i - 32) ELSE 0 END) AS BIGINT) AS h_lo
    FROM bits GROUP BY doc_id
    """,
)
def multimodal_phash_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-decode perceptual hashing: pixels -> encode (BMP/PPM/PNG/GIF
    rotating by doc_id) -> real decode -> fixed-point aHash, all on the
    executors."""
    from collections.abc import Iterator

    from ..operators import multimodal

    ids = load_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < _MMR_N
    )

    def gen(batches) -> Iterator:
        import numpy as np
        import pandas as pd

        from ..operators import codecs

        for pdf in batches:
            contents, metas = [], []
            for did in pdf["doc_id"]:
                arr = np.zeros((8, 8, 3), dtype=np.uint8)
                for y in range(8):
                    for x in range(8):
                        base = int(did) * 31 + x * 7 + y * 13
                        arr[y, x] = [base % 256, (base + 5) % 256, (base + 10) % 256]
                fmt = ("bmp", "ppm", "png", "gif")[int(did) % 4]
                contents.append(bytearray(codecs.encode_image(fmt, arr)))
                metas.append(
                    {"width": 8, "height": 8, "duration_ms": None, "codec": fmt}
                )
            yield pd.DataFrame(
                {
                    "asset_id": pdf["doc_id"],
                    "modality": "image/mixed",
                    "content": contents,
                    "meta": metas,
                }
            )

    media = ids.mapInPandas(gen, multimodal.MEDIA_SCHEMA)
    return multimodal.image_hashes(media, fake=False).select(
        "asset_id", "h_hi", "h_lo"
    )


# --------------------------------------------------------------------------
# image near-dup pairs over the real perceptual hashes: banded
# candidate join + exact Hamming filter; oracle composes the phash
# row's own oracle text.
# --------------------------------------------------------------------------
_PH_MAXH = 4


def _register_multimodal_near_dup() -> None:
    phash_sql = _ORACLE["multimodal_phash_real"]
    register(
        "multimodal_near_dup_real",
        sql=f"""
        WITH h AS ({phash_sql}),
        bands AS (
            SELECT asset_id, h_hi, h_lo, b.band,
                   CASE b.band
                        WHEN 0 THEN h_hi % 65536
                        WHEN 1 THEN h_hi // 65536
                        WHEN 2 THEN h_lo % 65536
                        ELSE h_lo // 65536 END AS bval
            FROM h, (SELECT unnest(generate_series(0, 3)) AS band) b)
        SELECT DISTINCT a.asset_id AS id_a, b.asset_id AS id_b,
               CAST(bit_count(xor(a.h_hi, b.h_hi))
                    + bit_count(xor(a.h_lo, b.h_lo)) AS INT) AS hamming
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bval = b.bval AND a.asset_id < b.asset_id
        WHERE bit_count(xor(a.h_hi, b.h_hi))
              + bit_count(xor(a.h_lo, b.h_lo)) <= {_PH_MAXH}
        """,
    )(_multimodal_near_dup_real)


def _multimodal_near_dup_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup image pairs over the deterministic real-decode assets
    (the same media frame the phash row builds)."""
    from collections.abc import Iterator

    from ..operators import multimodal

    ids = load_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < _MMR_N
    )

    def gen(batches) -> Iterator:
        import numpy as np
        import pandas as pd

        from ..operators import codecs

        for pdf in batches:
            contents, metas = [], []
            for did in pdf["doc_id"]:
                arr = np.zeros((8, 8, 3), dtype=np.uint8)
                for y in range(8):
                    for x in range(8):
                        base = int(did) * 31 + x * 7 + y * 13
                        arr[y, x] = [base % 256, (base + 5) % 256, (base + 10) % 256]
                fmt = ("bmp", "ppm", "png", "gif")[int(did) % 4]
                contents.append(bytearray(codecs.encode_image(fmt, arr)))
                metas.append(
                    {"width": 8, "height": 8, "duration_ms": None, "codec": fmt}
                )
            yield pd.DataFrame(
                {
                    "asset_id": pdf["doc_id"],
                    "modality": "image/mixed",
                    "content": contents,
                    "meta": metas,
                }
            )

    media = ids.mapInPandas(gen, multimodal.MEDIA_SCHEMA)
    return multimodal.image_near_dup_pairs(
        media, max_hamming=_PH_MAXH, fake=False
    ).select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


_register_multimodal_near_dup()


# --------------------------------------------------------------------------
# MinHash estimator quality: signature-agreement Jaccard estimate next
# to the exact shingle-set Jaccard for every LSH candidate pair (the
# "measure the estimator" row for the MinHash family, mirroring the
# ANN recall rows).
# --------------------------------------------------------------------------
@register(
    "dedup_minhash_estimate",
    sql=f"""
    WITH {_SHINGLES},
    mh AS (
        SELECT doc_id, s.seed,
               min(((2 * s.seed + 1)
                    * (CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) % 2147483647)
                    + (s.seed * s.seed + 7)) % 2147483647) AS minhash
        FROM shingles, unnest(generate_series(0, 11)) s(seed)
        GROUP BY doc_id, s.seed
    ),
    bands AS (
        SELECT doc_id, seed // 3 AS band,
               string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY seed) AS band_sig
        FROM mh GROUP BY doc_id, seed // 3
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    ),
    agree AS (
        SELECT c.doc_a, c.doc_b,
               CAST(sum(CASE WHEN x.minhash = y.minhash THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
        FROM cand c
        JOIN mh x ON x.doc_id = c.doc_a
        JOIN mh y ON y.doc_id = c.doc_b AND y.seed = x.seed
        GROUP BY c.doc_a, c.doc_b
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
    inter AS (
        SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_common
        FROM cand c
        JOIN shingles sa ON sa.doc_id = c.doc_a
        JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT a.doc_a, a.doc_b,
           round(a.n_agree / 12.0, 6) AS est_jaccard,
           round(coalesce(i.n_common, 0)
                 / (za.n_sh + zb.n_sh - coalesce(i.n_common, 0)), 6) AS exact_jaccard
    FROM agree a
    LEFT JOIN inter i ON i.doc_a = a.doc_a AND i.doc_b = a.doc_b
    JOIN sizes za ON za.doc_id = a.doc_a
    JOIN sizes zb ON zb.doc_id = a.doc_b
    """,
)
def dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_estimate_pairs(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# session-4 curation chain as one row: boilerplate strip -> bigram
# fluency gate -> exact dedup of the CLEANED text. The oracle chains
# the boilerplate CTEs into the bigram chain (retrained on the cleaned
# text) and the min-id keep.
# --------------------------------------------------------------------------
_CUR_NLL = 3.5


@register(
    "pipeline_corpus_curate",
    sql=f"""
    WITH norm AS ({_NORM}),
    words AS (SELECT doc_id, string_split(t, ' ') AS w, len(string_split(t, ' ')) AS n
              FROM norm),
    starts AS (
        SELECT doc_id, w, n, CAST(s.s AS INT) AS start
        FROM words,
             unnest(generate_series(
                 0,
                 greatest(CAST(ceil((n - {_SEG}) / {_SEG}.0) AS INT), 0) * {_SEG},
                 {_SEG})) s(s)),
    segs AS (
        SELECT doc_id, CAST(start // {_SEG} AS INT) AS chunk_id,
               array_to_string(w[start + 1 : start + {_SEG}], ' ') AS chunk_text
        FROM starts),
    dfq AS (
        SELECT md5(chunk_text) AS h, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        FROM segs GROUP BY md5(chunk_text)),
    cleaned AS (
        SELECT doc_id,
               coalesce(string_agg(CASE WHEN df < {_BP_MIN_DF} THEN chunk_text END, ' '
                                   ORDER BY chunk_id), '') AS clean_text
        FROM segs JOIN dfq ON md5(chunk_text) = h
        GROUP BY doc_id),
    cnorm AS (SELECT doc_id, clean_text,
                     lower(regexp_replace(trim(clean_text), '\\s+', ' ', 'g')) AS t
              FROM cleaned),
    ctoks AS (SELECT doc_id, clean_text, string_split(t, ' ') AS w FROM cnorm),
    cidx AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
             FROM ctoks WHERE len(w) >= 2),
    cbg AS (SELECT doc_id, i, w[i] AS w1, w[i+1] AS w2 FROM cidx),
    cc2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n12 FROM cbg GROUP BY w1, w2),
    cc1 AS (SELECT w1, CAST(sum(n12) AS BIGINT) AS n1 FROM cc2 GROUP BY w1),
    cv AS (SELECT count(DISTINCT w2) AS vv FROM cbg),
    cscored AS (
        SELECT cbg.doc_id, cbg.i,
               -ln((cc2.n12 + {_LM_ALPHA}) / (cc1.n1 + {_LM_ALPHA} * cv.vv)) AS nll
        FROM cbg JOIN cc2 USING (w1, w2) JOIN cc1 USING (w1), cv),
    cagg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                    round(sum(nll ORDER BY i) / count(*), 6) AS avg_nll
             FROM cscored GROUP BY doc_id),
    gated AS (
        SELECT c.doc_id, c.clean_text, a.n_bigrams, a.avg_nll
        FROM ctoks c JOIN cagg a USING (doc_id)
        WHERE a.n_bigrams >= 1 AND a.avg_nll <= {_CUR_NLL})
    SELECT doc_id, clean_text, n_bigrams, avg_nll FROM (
        SELECT *, row_number() OVER (PARTITION BY md5(clean_text)
                                     ORDER BY doc_id) AS rn
        FROM gated)
    WHERE rn = 1
    """,
)
def pipeline_corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .corpus import curate_corpus

    return curate_corpus(
        load_table(spark, sf_dir, "documents"),
        seg_words=_SEG,
        min_df=_BP_MIN_DF,
        max_avg_nll=_CUR_NLL,
    )


# --------------------------------------------------------------------------
# two-stage PQ: ADC shortlist (rerank candidates, codes only) + exact
# cosine re-rank of the shortlist to the final top-k.
# --------------------------------------------------------------------------
_PQ_RERANK = 20


@register(
    "similarity_topk_pq_refined",
    sql=f"""
    WITH emb2 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    shortlist AS (
        SELECT query_id, neighbor_id FROM ({_pq_topk_sql(_PQ_RERANK)})),
    rescored AS (
        SELECT s.query_id, s.neighbor_id,
               {_COS.format(a="q.v", b="c.v")} AS sim
        FROM shortlist s
        JOIN emb2 q ON q.vec_id = s.query_id
        JOIN emb2 c ON c.vec_id = s.neighbor_id)
    SELECT query_id, neighbor_id, CAST(rk AS INT) AS rk, round(sim, 6) AS sim
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, neighbor_id) AS rk
          FROM rescored)
    WHERE rk <= {_IVF_K}
    """,
)
def similarity_topk_pq_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.topk_pq_refined(
        load_table(spark, sf_dir, "embeddings"),
        F.col("vec_id") < _IVF_NQ,
        k=_IVF_K,
        rerank=_PQ_RERANK,
        m=_PQ_M,
        kc=_PQ_KC,
    )


# --------------------------------------------------------------------------
# embedding-diversity report over the deterministic id % 25 sample
# --------------------------------------------------------------------------
_DIV_MOD = 25


@register(
    "similarity_diversity",
    sql=f"""
    WITH s AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE vec_id % {_DIV_MOD} = 0),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               {_COS.format(a="a.v", b="b.v")} AS c
        FROM s a JOIN s b ON a.vec_id < b.vec_id),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_sample FROM s)
    SELECT n.n_sample,
           round(sum(c ORDER BY id_a, id_b) / count(*), 6) AS mean_cos,
           round(min(c), 6) AS min_cos,
           round(max(c), 6) AS max_cos
    FROM pairs, n
    GROUP BY n.n_sample
    """,
)
def similarity_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.diversity_report(
        load_table(spark, sf_dir, "embeddings"), sample_mod=_DIV_MOD
    )


# --------------------------------------------------------------------------
# contamination report grouped by source: which sources leak the
# benchmark (the per-source view that decides what to re-crawl)
# --------------------------------------------------------------------------
def _register_decontaminate_by_source() -> None:
    per_doc = _ORACLE["dedup_decontaminate"]
    register(
        "dedup_decontaminate_by_source",
        sql=f"""
        SELECT d.source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(p.contaminated) AS BIGINT) AS n_contaminated,
               round(sum(p.contaminated) / CAST(count(*) AS DOUBLE), 6)
                   AS contaminated_frac,
               CAST(sum(p.n_hits) AS BIGINT) AS total_hits
        FROM ({per_doc}) p JOIN documents d USING (doc_id)
        GROUP BY d.source
        """,
    )(_dedup_decontaminate_by_source)


def _dedup_decontaminate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 19 == 0)
    per_doc = dedup.decontaminate(docs, bench, k=3)
    return (
        per_doc.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("contaminated").cast("long").alias("n_contaminated"),
            F.round(
                F.sum("contaminated") / F.count(F.lit(1)), 6
            ).alias("contaminated_frac"),
            F.sum("n_hits").alias("total_hits"),
        )
    )


_register_decontaminate_by_source()


# --------------------------------------------------------------------------
# equal-population length strata WITHOUT ntile's global sort: exact
# percentile cutpoints broadcast back as pure comparisons.
# --------------------------------------------------------------------------
_STRATA = 4


@register(
    "text_length_strata",
    sql=rf"""
    WITH counts AS (
        SELECT doc_id,
               CAST(len(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_words
        FROM documents),
    cuts AS (SELECT quantile_cont(n_words, 0.25) AS c1,
                    quantile_cont(n_words, 0.5) AS c2,
                    quantile_cont(n_words, 0.75) AS c3
             FROM counts)
    SELECT doc_id, n_words,
           CAST(CAST(n_words > c1 AS INT) + CAST(n_words > c2 AS INT)
                + CAST(n_words > c3 AS INT) AS INT) AS stratum
    FROM counts, cuts
    """,
)
def text_length_strata(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.length_strata(
        load_table(spark, sf_dir, "documents"), n_strata=_STRATA
    )


# --------------------------------------------------------------------------
# interpolated trigram LM (Jelinek-Mercer over add-alpha trigram/
# bigram/unigram estimates) — the sparsity-safe big sibling of
# text_perplexity_bigram.
# --------------------------------------------------------------------------
_TLM_L3, _TLM_L2 = 0.6, 0.3


@register(
    "text_perplexity_trigram",
    sql=f"""
    WITH norm AS ({_NORM}),
    toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
    idx AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
            FROM toks WHERE len(w) >= 3),
    tg AS (SELECT doc_id, i, w[i] AS w1, w[i+1] AS w2, w[i+2] AS w3 FROM idx),
    c3 AS (SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS n123
           FROM tg GROUP BY w1, w2, w3),
    c12 AS (SELECT w1, w2, CAST(sum(n123) AS BIGINT) AS n12 FROM c3 GROUP BY w1, w2),
    c23 AS (SELECT w2, w3, CAST(sum(n123) AS BIGINT) AS n23 FROM c3 GROUP BY w2, w3),
    c2_ AS (SELECT w2, CAST(sum(n23) AS BIGINT) AS n2 FROM c23 GROUP BY w2),
    c3u AS (SELECT w3, CAST(sum(n123) AS BIGINT) AS n3 FROM c3 GROUP BY w3),
    tot AS (SELECT CAST(sum(n123) AS BIGINT) AS nt FROM c3),
    v AS (SELECT count(DISTINCT w3) AS vv FROM tg),
    scored AS (
        SELECT tg.doc_id, tg.i,
               -ln({_TLM_L3} * (c3.n123 + 0.5) / (c12.n12 + 0.5 * v.vv)
                   + {_TLM_L2} * (c23.n23 + 0.5) / (c2_.n2 + 0.5 * v.vv)
                   + {1.0 - _TLM_L3 - _TLM_L2!r} * (c3u.n3 + 0.5) / (tot.nt + 0.5 * v.vv)) AS nll
        FROM tg
        JOIN c3 USING (w1, w2, w3)
        JOIN c12 USING (w1, w2)
        JOIN c23 USING (w2, w3)
        JOIN c2_ USING (w2)
        JOIN c3u USING (w3), tot, v),
    agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
                   sum(nll ORDER BY i) AS s
            FROM scored GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(a.n_trigrams, 0) AS BIGINT) AS n_trigrams,
           round(a.s / a.n_trigrams, 6) AS avg_nll,
           round(exp(a.s / a.n_trigrams), 4) AS ppl
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def text_perplexity_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.trigram_lm_scores(
        load_table(spark, sf_dir, "documents"),
        alpha=_LM_ALPHA,
        l3=_TLM_L3,
        l2=_TLM_L2,
    )


# --------------------------------------------------------------------------
# per-doc nearest neighbors over the Jaccard graph (the threshold-
# tuning explorer view); oracle mirrors the pair oracle at a low floor.
# --------------------------------------------------------------------------
_JNN_K, _JNN_T = 3, 0.1


def _register_jaccard_neighbors() -> None:
    # the dedup_jaccard oracle text has the 0.5 threshold inlined twice
    # (filter + display); retarget both occurrences to the floor
    pairs_sql = _ORACLE["dedup_jaccard"].replace(">= 0.5", f">= {_JNN_T}")
    register(
        "dedup_jaccard_neighbors",
        sql=f"""
        WITH pairs AS ({pairs_sql}),
        mirrored AS (
            SELECT doc_a AS doc_id, doc_b AS neighbor_id, jaccard FROM pairs
            UNION ALL
            SELECT doc_b AS doc_id, doc_a AS neighbor_id, jaccard FROM pairs)
        SELECT doc_id, neighbor_id, jaccard, CAST(rk AS INT) AS rk
        FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                           ORDER BY jaccard DESC, neighbor_id) AS rk
              FROM mirrored)
        WHERE rk <= {_JNN_K}
        """,
    )(_dedup_jaccard_neighbors)


def _dedup_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.jaccard_top_neighbors(
        load_table(spark, sf_dir, "documents"), k=_JNN_K, threshold=_JNN_T
    )


_register_jaccard_neighbors()


# --------------------------------------------------------------------------
# character-entropy quality screen (compression-style gibberish/spam
# detector the word-level stats miss)
# --------------------------------------------------------------------------
@register(
    "text_char_entropy",
    sql=f"""
    WITH norm AS ({_NORM}),
    ch AS (SELECT doc_id, substr(t, CAST(i AS INT), 1) AS ch
           FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
                 FROM norm WHERE len(t) >= 1)),
    counts AS (SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
               FROM ch GROUP BY doc_id, ch),
    tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars
            FROM counts GROUP BY doc_id),
    ent AS (SELECT counts.doc_id,
                   sum(-(c / CAST(t.n_chars AS DOUBLE))
                       * log2(c / CAST(t.n_chars AS DOUBLE)) ORDER BY ch) AS h
            FROM counts JOIN tot t USING (doc_id)
            GROUP BY counts.doc_id)
    SELECT d.doc_id,
           CAST(coalesce(t.n_chars, 0) AS BIGINT) AS n_chars,
           round(e.h, 6) AS entropy_bits
    FROM documents d
    LEFT JOIN tot t USING (doc_id)
    LEFT JOIN ent e USING (doc_id)
    """,
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.char_entropy(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# multimodal metadata summary — the pure-relational query over media
# that must never touch Python at any scale
# --------------------------------------------------------------------------
@register(
    "multimodal_summary",
    sql="""
    SELECT 'text/blob' AS modality,
           CAST(count(*) AS BIGINT) AS n_assets,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes
    FROM documents
    """,
)
def multimodal_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    media = multimodal.from_documents(load_table(spark, sf_dir, "documents"))
    return multimodal.media_summary(media)


# --------------------------------------------------------------------------
# n-gram novelty: fraction of a doc's shingles unique to it (the
# contribution score dual to the boilerplate df screen)
# --------------------------------------------------------------------------
@register(
    "text_ngram_novelty",
    sql=f"""
    WITH {_SHINGLES},
    dfq AS (SELECT shingle, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
            FROM shingles GROUP BY shingle)
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
           round(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS novelty
    FROM shingles s JOIN dfq USING (shingle)
    GROUP BY s.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.ngram_novelty(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# batch shipment-over-history NEAR-dedup (LSH band table as rolling
# state): history = even doc_ids, shipment = odd. Per-doc signatures
# depend only on the doc's own shingles, so the oracle computes bands
# over the whole table and filters per side.
# --------------------------------------------------------------------------
@register(
    "dedup_incremental_near",
    sql=f"""
    WITH {_SHINGLES},
    mh AS (
        SELECT doc_id, s.seed,
               min(((2 * s.seed + 1)
                    * (CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) % 2147483647)
                    + (s.seed * s.seed + 7)) % 2147483647) AS minhash
        FROM shingles, unnest(generate_series(0, 11)) s(seed)
        GROUP BY doc_id, s.seed
    ),
    bands AS (
        SELECT doc_id, seed // 3 AS band,
               string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY seed) AS band_sig
        FROM mh GROUP BY doc_id, seed // 3
    ),
    hist AS (SELECT * FROM bands WHERE doc_id % 2 = 0),
    nw AS (SELECT * FROM bands WHERE doc_id % 2 = 1),
    drops AS (
        SELECT DISTINCT n.doc_id
        FROM nw n JOIN hist h ON n.band = h.band AND n.band_sig = h.band_sig
        UNION
        SELECT DISTINCT a.doc_id
        FROM nw a JOIN nw b
          ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id > b.doc_id
    )
    SELECT d.doc_id FROM documents d
    WHERE d.doc_id % 2 = 1
      AND d.doc_id NOT IN (SELECT doc_id FROM drops)
    """,
)
def dedup_incremental_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    hist_bands = dedup.minhash_bands(docs.filter(F.col("doc_id") % 2 == 0))
    shipment = docs.filter(F.col("doc_id") % 2 == 1)
    kept, _ = dedup.incremental_near_dedup(shipment, hist_bands)
    return kept.select("doc_id")


# --------------------------------------------------------------------------
# BM25 ranked retrieval over the corpus inverted index
# --------------------------------------------------------------------------
_BM25_TERMS = ["spark", "shuffle", "query"]
_BM25_K, _BM25_K1, _BM25_B = 10, 1.2, 0.75


@register(
    "text_bm25_search",
    sql=f"""
    WITH norm AS ({_NORM}),
    toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
    lens AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM toks),
    stats AS (SELECT CAST(count(*) AS BIGINT) AS n, avg(dl) AS avgdl FROM lens),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM (SELECT doc_id, unnest(w) AS term FROM toks)
           WHERE term IN ('spark', 'shuffle', 'query')
           GROUP BY doc_id, term),
    dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
    scored AS (
        SELECT tf.doc_id, tf.term,
               ln(1.0 + (s.n - dfq.df + 0.5) / (dfq.df + 0.5))
               * (tf.tf * ({_BM25_K1} + 1))
               / (tf.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * l.dl / s.avgdl)) AS sc
        FROM tf JOIN dfq USING (term) JOIN lens l ON l.doc_id = tf.doc_id, stats s),
    per_doc AS (
        SELECT doc_id, round(sum(sc ORDER BY term), 9) AS score
        FROM scored GROUP BY doc_id)
    SELECT doc_id, score, CAST(rk AS INT) AS rk
    FROM (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rk
          FROM per_doc)
    WHERE rk <= {_BM25_K}
    """,
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.bm25_search(
        load_table(spark, sf_dir, "documents"),
        _BM25_TERMS,
        k=_BM25_K,
        k1=_BM25_K1,
        b=_BM25_B,
    )


# --------------------------------------------------------------------------
# candidate-generator quality: the banding stage's precision/recall vs
# exact-Jaccard ground truth (coverage twin of dedup_minhash_estimate).
# Oracle composes both stages' own oracle texts.
# --------------------------------------------------------------------------
def _register_candidate_quality() -> None:
    cand_sql = _ORACLE["dedup_minhash_lsh"]
    true_sql = _ORACLE["dedup_jaccard"]
    register(
        "dedup_candidate_quality",
        sql=f"""
        WITH cand AS ({cand_sql}),
        tru AS (SELECT doc_a, doc_b FROM ({true_sql})),
        hit AS (SELECT c.doc_a, c.doc_b FROM cand c JOIN tru USING (doc_a, doc_b))
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
               (SELECT CAST(count(*) AS BIGINT) FROM tru) AS n_true,
               (SELECT CAST(count(*) AS BIGINT) FROM hit) AS n_hit,
               round((SELECT count(*) FROM hit)
                     / CAST(greatest((SELECT count(*) FROM cand), 1) AS DOUBLE), 6) AS precision,
               round((SELECT count(*) FROM hit)
                     / CAST(greatest((SELECT count(*) FROM tru), 1) AS DOUBLE), 6) AS recall
        """,
    )(_dedup_candidate_quality)


def _dedup_candidate_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.candidate_quality(
        load_table(spark, sf_dir, "documents"), threshold=0.5
    )


_register_candidate_quality()


# --------------------------------------------------------------------------
# batched BM25: a table of queries served off ONE corpus scan
# --------------------------------------------------------------------------
_BM25M_QUERIES = [
    (1, "spark"), (1, "shuffle"),
    (2, "query"), (2, "join"), (2, "window"),
    (3, "merge"),
]


def _register_bm25_many() -> None:
    vals = ", ".join(f"({q}, '{t}')" for q, t in _BM25M_QUERIES)
    register(
        "text_bm25_search_many",
        sql=f"""
        WITH q(query_id, term) AS (VALUES {vals}),
        norm AS ({_NORM}),
        toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
        lens AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM toks),
        stats AS (SELECT CAST(count(*) AS BIGINT) AS n, avg(dl) AS avgdl FROM lens),
        tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
               FROM (SELECT doc_id, unnest(w) AS term FROM toks)
               WHERE term IN (SELECT DISTINCT term FROM q)
               GROUP BY doc_id, term),
        dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        scored AS (
            SELECT q.query_id, tf.doc_id, tf.term,
                   ln(1.0 + (s.n - dfq.df + 0.5) / (dfq.df + 0.5))
                   * (tf.tf * ({_BM25_K1} + 1))
                   / (tf.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * l.dl / s.avgdl)) AS sc
            FROM tf JOIN dfq USING (term) JOIN q USING (term)
            JOIN lens l ON l.doc_id = tf.doc_id, stats s),
        per AS (
            SELECT query_id, doc_id, round(sum(sc ORDER BY term), 9) AS score
            FROM scored GROUP BY query_id, doc_id)
        SELECT CAST(query_id AS INT) AS query_id, doc_id, score, CAST(rk AS INT) AS rk
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY score DESC, doc_id) AS rk
              FROM per)
        WHERE rk <= 5
        """,
    )(_text_bm25_search_many)


def _text_bm25_search_many(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = spark.createDataFrame(_BM25M_QUERIES, "query_id int, term string")
    return text.bm25_search_many(
        load_table(spark, sf_dir, "documents"), q, k=5,
        k1=_BM25_K1, b=_BM25_B,
    )


_register_bm25_many()


# --------------------------------------------------------------------------
# keyword-in-context extraction (the reviewer view behind a BM25 hit)
# --------------------------------------------------------------------------
_KWIC_TERM, _KWIC_W = "spark", 3


@register(
    "text_keyword_contexts",
    sql=f"""
    WITH norm AS ({_NORM}),
    toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
    hits AS (SELECT doc_id, w, len(w) AS n, CAST(i AS BIGINT) AS pos
             FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i
                   FROM toks)
             WHERE w[CAST(i AS INT)] = '{_KWIC_TERM}')
    SELECT doc_id, pos,
           array_to_string(
               w[CAST(greatest(pos - {_KWIC_W}, 1) AS INT)
                 : CAST(least(pos + {_KWIC_W}, n) AS INT)], ' ') AS context
    FROM hits
    """,
)
def text_keyword_contexts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.keyword_contexts(
        load_table(spark, sf_dir, "documents"), _KWIC_TERM, window=_KWIC_W
    )


# --------------------------------------------------------------------------
# PageRank over a deterministic source link graph, cross-engine: the
# Spark side runs operators.graph.pagerank; the DuckDB oracle UNROLLS
# the same power iteration (fixed 5 rounds, dangling-mass
# redistribution included) as chained CTEs. Edges derive identically in
# both engines from the distinct sources: src_i -> dst_(3i+1 mod k) and
# src_i -> dst_(7i+2 mod k) by alphabetical rank.
# --------------------------------------------------------------------------
_PR_ITERS, _PR_D = 5, 0.85


def _pagerank_oracle_sql() -> str:
    rounds = []
    for t in range(_PR_ITERS):
        prev = f"r{t}"
        rounds.append(f"""
    f{t} AS (
        SELECT e.dst AS node, sum(r.rank / dg.outdeg) AS inflow
        FROM edges e
        JOIN {prev} r ON r.node = e.src
        JOIN deg dg ON dg.src = e.src
        GROUP BY e.dst),
    d{t} AS (
        SELECT coalesce(sum(rank), 0) AS dm FROM {prev}
        WHERE node NOT IN (SELECT src FROM deg)),
    r{t + 1} AS (
        SELECT n.node,
               (1 - {_PR_D}) / k.c
               + {_PR_D} * (coalesce(f{t}.inflow, 0) + d{t}.dm / k.c) AS rank
        FROM nodes n
        LEFT JOIN f{t} ON f{t}.node = n.node
        CROSS JOIN d{t} CROSS JOIN k)""")
    return f"""
    WITH ord AS (
        SELECT source, row_number() OVER (ORDER BY source) - 1 AS i
        FROM (SELECT DISTINCT source FROM documents)),
    k AS (SELECT CAST(count(*) AS DOUBLE) AS c, count(*) AS ki FROM ord),
    edges AS (
        SELECT a.source AS src, b.source AS dst
        FROM ord a JOIN k ON true JOIN ord b ON b.i = (a.i * 3 + 1) % k.ki
        WHERE a.source <> b.source
        UNION
        SELECT a.source, b.source
        FROM ord a JOIN k ON true JOIN ord b ON b.i = (a.i * 7 + 2) % k.ki
        WHERE a.source <> b.source),
    nodes AS (SELECT src AS node FROM edges
              UNION SELECT dst FROM edges),
    deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS outdeg
            FROM edges GROUP BY src),
    r0 AS (SELECT node, 1.0 / k.c AS rank FROM nodes CROSS JOIN k),
    {",".join(rounds)}
    SELECT node AS source, round(rank, 9) AS rank
    FROM r{_PR_ITERS}
    """


def _source_edges(docs: DataFrame):
    from pyspark.sql import Window

    ord_df = (
        docs.select("source")
        .distinct()
        .withColumn(
            "i", F.row_number().over(Window.orderBy("source")) - 1
        )
    )
    k = ord_df.count()
    a = ord_df.select(F.col("source").alias("src"), "i")
    b = ord_df.select(F.col("source").alias("dst"), F.col("i").alias("j"))
    e1 = a.join(b, (F.col("i") * 3 + 1) % k == F.col("j")).filter(
        F.col("src") != F.col("dst")
    )
    e2 = a.join(b, (F.col("i") * 7 + 2) % k == F.col("j")).filter(
        F.col("src") != F.col("dst")
    )
    return e1.select("src", "dst").union(e2.select("src", "dst")).distinct()


@register("graph_source_pagerank", sql=_pagerank_oracle_sql())
def graph_source_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine PageRank: the iterative keyed-join engine vs the
    oracle's unrolled power iteration (deferred — pytest-mirrored; the
    numpy differential lives in tests/test_graph.py)."""
    from ..operators.graph import pagerank

    docs = load_table(spark, sf_dir, "documents")
    pr = pagerank(
        _source_edges(docs), damping=_PR_D, iters=_PR_ITERS
    )
    return pr.select(
        F.col("node").alias("source"), F.round("rank", 9).alias("rank")
    )


# --------------------------------------------------------------------------
# Fuzzy entity resolution over part names: blocked levenshtein match on
# the DISTINCT name vocabulary, transitive closure (CC), mapped back to
# rows. The oracle reproduces the whole pipeline — DuckDB's
# levenshtein() is the same classic edit distance as Spark's.
# --------------------------------------------------------------------------
_ER_DIST = 3


@register(
    "entity_resolution",
    sql=rf"""
    WITH RECURSIVE p AS (
        SELECT p_partkey,
               lower(regexp_replace(trim(p_name), '\s+', ' ', 'g')) AS n
        FROM part),
    names AS (SELECT DISTINCT n FROM p),
    b AS (SELECT n, string_split(n, ' ')[1] AS blk FROM names),
    edges0 AS (
        SELECT a.n AS u, c.n AS v
        FROM b a JOIN b c ON a.blk = c.blk
        WHERE a.n < c.n AND levenshtein(a.n, c.n) <= {_ER_DIST}),
    edges AS (SELECT u, v FROM edges0 UNION SELECT v, u FROM edges0),
    reach(node, lbl) AS (
        SELECT u, u FROM edges
        UNION
        SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.node),
    canon AS (SELECT node AS n, min(lbl) AS canon FROM reach GROUP BY node),
    lab AS (SELECT p.p_partkey, p.n,
                   coalesce(c.canon, p.n) AS canon
            FROM p LEFT JOIN canon c ON c.n = p.n),
    ent AS (SELECT canon, min(p_partkey) AS entity_id FROM lab GROUP BY canon)
    SELECT l.p_partkey, l.n AS name_norm, e.entity_id
    FROM lab l JOIN ent e ON e.canon = l.canon
    """,
)
def entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy ER (operators/entity.py): distinct-name matching
    + connected components + row-level entity ids. Deferred —
    pytest-mirrored (driver-window headroom)."""
    from ..operators.entity import resolve_entities

    return resolve_entities(
        load_table(spark, sf_dir, "part"),
        id_col="p_partkey",
        name_col="p_name",
        max_distance=_ER_DIST,
    )


# --------------------------------------------------------------------------
# Distributed BPE tokenizer training (operators/bpe.py). Genuinely
# iterative with data-dependent merge selection — non-SQL-expressible
# (the _NO_ORACLE_OK contract); pinned instead by the pure-Python
# differential in tests/test_bpe.py on merge table AND segmentation.
# --------------------------------------------------------------------------
_BPE_MERGES = 12


@register("pipeline_train_bpe")
def pipeline_train_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned merge table over the documents corpus: vocabulary-sized
    iteration, corpus scanned once (deferred — pytest-mirrored)."""
    from ..operators.bpe import train_bpe

    return train_bpe(
        load_table(spark, sf_dir, "documents"), n_merges=_BPE_MERGES
    )


# --------------------------------------------------------------------------
# Fixed-bin histogram quantile sketch — the deterministic member of the
# sketch family (HLL/percentile_approx have no bit-exact cross-engine
# oracle; this one does: integer bin arithmetic + one interpolation).
# --------------------------------------------------------------------------
_HQ_LO, _HQ_HI, _HQ_BINS = 0.0, 110000.0, 64
_HQ_W = (_HQ_HI - _HQ_LO) / _HQ_BINS


@register(
    "sketch_histogram_quantiles",
    sql=f"""
    WITH b AS (
        SELECT l_returnflag AS g,
               CAST(least(greatest(floor((l_extendedprice - {_HQ_LO!r}) / {_HQ_W!r}), 0),
                          {_HQ_BINS - 1}) AS INT) AS bin
        FROM lineitem WHERE l_extendedprice IS NOT NULL),
    h AS (SELECT g, bin, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY g, bin),
    c AS (SELECT g, bin, cnt,
                 sum(cnt) OVER (PARTITION BY g ORDER BY bin
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 sum(cnt) OVER (PARTITION BY g) AS total
          FROM h),
    qq AS (SELECT unnest([0.5, 0.9]) AS q),
    sel AS (
        SELECT c.g, qq.q, c.bin, c.cnt, c.cum, c.total,
               row_number() OVER (PARTITION BY c.g, qq.q ORDER BY c.bin) AS rn
        FROM c JOIN qq ON c.cum >= qq.q * c.total)
    SELECT g AS l_returnflag, q,
           round({_HQ_LO!r} + (bin + (q * total - (cum - cnt)) / cnt) * {_HQ_W!r}, 6)
               AS approx
    FROM sel WHERE rn = 1
    """,
)
def sketch_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable fixed-bin quantile sketch over lineitem prices per
    return flag (deferred — pytest-mirrored; mergeability pinned in
    tests/test_sketch_quantiles.py)."""
    from ..operators.sketches import histogram_quantiles

    return histogram_quantiles(
        load_table(spark, sf_dir, "lineitem"),
        group_col="l_returnflag",
        value_col="l_extendedprice",
        lo=_HQ_LO,
        hi=_HQ_HI,
        n_bins=_HQ_BINS,
        qs=(0.5, 0.9),
    )


# --------------------------------------------------------------------------
# Deterministic md5 HyperLogLog — the oracle-checkable approx-distinct
# row (the DataSketches HLL rows are error-band-pinned only; this
# estimator is reproduced bit-for-bit in SQL: integer register math,
# exact power-of-two harmonic sum via shifts, one double division).
# --------------------------------------------------------------------------
_HLL_M = 256
_HLL_ALPHA = 0.7213 / (1 + 1.079 / _HLL_M)
_HLL_SCALE = float(_HLL_ALPHA * _HLL_M * _HLL_M * (1 << 53))


@register(
    "sketch_hll_distinct",
    sql=f"""
    WITH v AS (SELECT l_returnflag AS g, l_partkey AS val FROM lineitem),
    h AS (SELECT g,
                 CAST(('0x' || substr(md5('hll-v1:' || CAST(val AS VARCHAR)), 1, 15))
                      AS BIGINT) AS hh
          FROM v),
    r AS (SELECT g, hh % {_HLL_M} AS reg, hh // {_HLL_M} AS w FROM h),
    rho AS (SELECT g, reg,
                   CASE WHEN w = 0 THEN 53 ELSE 52 - length(bin(w)) + 1 END AS rho
            FROM r),
    mx AS (SELECT g, reg, max(rho) AS M FROM rho GROUP BY g, reg),
    allg AS (SELECT DISTINCT g FROM v),
    regs AS (SELECT g, CAST(s.r AS BIGINT) AS reg
             FROM allg, unnest(generate_series(0, {_HLL_M - 1})) s(r)),
    filled AS (SELECT regs.g, regs.reg, coalesce(mx.M, 0) AS M
               FROM regs LEFT JOIN mx ON mx.g = regs.g AND mx.reg = regs.reg),
    z AS (SELECT g, sum(1::BIGINT << CAST(53 - M AS INT)) AS zint,
                 CAST(sum(CASE WHEN M = 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_empty
          FROM filled GROUP BY g),
    ex AS (SELECT g, CAST(count(DISTINCT val) AS BIGINT) AS exact_distinct
           FROM v GROUP BY g)
    SELECT z.g AS l_returnflag,
           round({_HLL_SCALE!r} / zint, 3) AS raw_est,
           z.n_empty,
           ex.exact_distinct
    FROM z JOIN ex ON ex.g = z.g
    """,
)
def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HLL distinct l_partkey per return flag, joined to
    the exact count so the estimator's error is a visible column
    (deferred — pytest-mirrored)."""
    from ..operators.sketches import hll_deterministic

    li = load_table(spark, sf_dir, "lineitem")
    est = hll_deterministic(
        li, group_col="l_returnflag", value_col="l_partkey", m=_HLL_M
    )
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("exact_distinct")
    )
    return est.join(exact, "l_returnflag")


# --------------------------------------------------------------------------
# Skew-salted join — identical result to the plain join (the oracle IS
# the plain join), physically split so no single hot key serializes a
# sort-merge group.
# --------------------------------------------------------------------------
@register(
    "skew_salted_join",
    sql="""
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted lineitem⨝orders revenue rollup (deferred — pytest-
    mirrored; result equality with the unsalted join IS the oracle)."""
    from ..operators.util import skew_salted_join as salted

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    j = salted(li, orders, ["l_orderkey"], n_salts=8)
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
    )


# --------------------------------------------------------------------------
# Temperature-scaled mixture (T=2: sqrt weighting — up-weights small
# sources); budgets derive from the corpus itself, then the same
# hash-prefix draw as text_mix_budget fills them.
# --------------------------------------------------------------------------
_MIXT_TOTAL, _MIXT_T = 8_000, 2.0


@register(
    "text_mix_temperature",
    sql=f"""
    WITH norm AS ({_NORM}),
    tok AS (
        SELECT n.doc_id, d.source,
               CAST(len(string_split(n.t, ' ')) AS BIGINT) AS n_tokens,
               md5('mix-v1:' || CAST(n.doc_id AS VARCHAR)) AS h
        FROM norm n JOIN documents d USING (doc_id)),
    totals AS (SELECT source, sum(n_tokens) AS nn FROM tok GROUP BY source),
    wsum AS (SELECT sum(power(nn::DOUBLE, {1.0 / _MIXT_T!r})) AS s FROM totals),
    budgets AS (
        SELECT t.source,
               CAST(floor(round(power(t.nn::DOUBLE, {1.0 / _MIXT_T!r}) / w.s, 9)
                          * {_MIXT_TOTAL}) AS BIGINT) AS budget
        FROM totals t, wsum w),
    cum AS (
        SELECT t.doc_id, t.source, t.n_tokens, b.budget,
               CAST(sum(t.n_tokens) OVER (
                   PARTITION BY t.source ORDER BY t.h, t.doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_tokens
        FROM tok t JOIN budgets b USING (source))
    SELECT doc_id, source, n_tokens, cum_tokens, budget
    FROM cum WHERE cum_tokens <= budget
    """,
)
def text_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T=2 temperature mixture over documents (deferred — pytest-
    mirrored; the T=1 budget form is the green text_mix_budget row)."""
    return text.mix_by_temperature(
        load_table(spark, sf_dir, "documents"),
        total_tokens=_MIXT_TOTAL,
        temperature=_MIXT_T,
    )


# --------------------------------------------------------------------------
# DSIR importance resampling (Xie et al. 2023): hashed-n-gram
# distribution matching between a raw corpus and a target corpus
# (here: the lang='en' subset as the target). The bucket tables are
# m-row broadcast material; per-doc weights fold in bucket order so
# the oracle's sum(x ORDER BY bucket) is bit-for-bit.
# --------------------------------------------------------------------------
_DSIR_M = 256
_DSIR_SAMPLE_K = 50

_DSIR_WEIGHT_CTES = f"""
    norm AS (SELECT doc_id, lang,
                    lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t
             FROM documents),
    toks AS (SELECT doc_id, lang, string_split(t, ' ') AS w FROM norm),
    grams0 AS (
        SELECT doc_id, lang, g
        FROM toks, unnest(w) u(g) WHERE len(g) > 0
        UNION ALL
        SELECT doc_id, lang, w[i] || ' ' || w[i + 1]
        FROM toks, unnest(generate_series(1, len(w) - 1)) s(i)
        WHERE len(w) >= 2),
    gb AS (SELECT doc_id, lang,
                  CAST(('0x' || substr(md5('dsir-v1:' || g), 1, 8)) AS BIGINT)
                      % {_DSIR_M} AS bucket
           FROM grams0),
    rb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS rc FROM gb GROUP BY bucket),
    tb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS tc
           FROM gb WHERE lang = 'en' GROUP BY bucket),
    rt AS (SELECT CAST(count(*) AS BIGINT) AS rtot FROM gb),
    tt AS (SELECT CAST(count(*) AS BIGINT) AS ttot FROM gb WHERE lang = 'en'),
    lr AS (SELECT rb.bucket,
                  round(ln((coalesce(tb.tc, 0) + 1.0) / (tt.ttot + {_DSIR_M}.0))
                        - ln((rb.rc + 1.0) / (rt.rtot + {_DSIR_M}.0)), 9)
                      AS log_ratio
           FROM rb LEFT JOIN tb ON tb.bucket = rb.bucket
           CROSS JOIN rt CROSS JOIN tt),
    db AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS c
           FROM gb GROUP BY doc_id, bucket),
    contrib AS (SELECT db.doc_id, db.bucket, db.c, db.c * lr.log_ratio AS x
                FROM db JOIN lr ON lr.bucket = db.bucket),
    agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
                   sum(x ORDER BY bucket) AS s
            FROM contrib GROUP BY doc_id),
    wts AS (SELECT d.doc_id,
                   CAST(coalesce(a.n_grams, 0) AS BIGINT) AS n_grams,
                   round(coalesce(a.s, 0.0), 6) AS log_weight
            FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id)
"""


@register(
    "text_dsir_weights",
    sql=f"""
    WITH {_DSIR_WEIGHT_CTES}
    SELECT doc_id, n_grams, log_weight FROM wts
    """,
)
def text_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance log-weights of every document against the
    lang='en' target subset (deferred — pytest-mirrored)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.dsir_log_weights(
        docs, docs.filter(F.col("lang") == "en"), m_buckets=_DSIR_M
    )


@register(
    "text_dsir_sample",
    sql=f"""
    WITH {_DSIR_WEIGHT_CTES},
    gmb AS (SELECT doc_id, log_weight,
                   round(-ln(-ln(
                       (CAST(('0x' || substr(md5('dsir-v1-s:'
                            || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                        + 1.0) / 4294967297.0)), 9) AS gn
            FROM wts)
    SELECT doc_id, log_weight, round(log_weight + gn, 9) AS score
    FROM gmb ORDER BY score DESC, doc_id LIMIT {_DSIR_SAMPLE_K}
    """,
)
def text_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel-top-k DSIR resample (sampling ∝ exp(log_weight) without
    replacement; deferred — pytest-mirrored)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.dsir_sample(
        docs, docs.filter(F.col("lang") == "en"),
        k=_DSIR_SAMPLE_K, m_buckets=_DSIR_M,
    )


# --------------------------------------------------------------------------
# IVF-PQ with residual encoding (IVFADC, Jégou et al. 2011 §IV) — the
# production ANN layout: coarse cells + PQ codes of the residuals; a
# candidate scores as dot(q, centroid) + the residual ADC lookup sum.
# --------------------------------------------------------------------------
_IVFPQ_CELLS, _IVFPQ_PROBE = 8, 2


@register(
    "similarity_topk_ivfpq",
    sql=f"""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    nrm AS (SELECT vec_id,
                   list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
            FROM emb),
    cents AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
                     nv AS ccvec
              FROM nrm ORDER BY vec_id LIMIT {_IVFPQ_CELLS}),
    asg AS (
        SELECT vec_id, cell, ccvec, nv FROM (
            SELECT n.vec_id, c.cell, c.ccvec, n.nv,
                   row_number() OVER (PARTITION BY n.vec_id
                       ORDER BY list_dot_product(n.nv, c.ccvec) DESC, c.cell) AS rn
            FROM nrm n, cents c)
        WHERE rn = 1),
    res AS (SELECT vec_id, cell,
                   list_transform(generate_series(1, len(nv)),
                                  i -> nv[i] - ccvec[i]) AS r
            FROM asg),
    rtop AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code, r
             FROM res ORDER BY vec_id LIMIT {_PQ_KC}),
    subs AS (SELECT CAST(unnest(generate_series(0, {_PQ_M - 1})) AS INT) AS sub),
    cb AS (SELECT s.sub, t.code,
                  t.r[s.sub * {_PQ_DSUB} + 1 : s.sub * {_PQ_DSUB} + {_PQ_DSUB}] AS cvec
           FROM rtop t, subs s),
    rvs AS (SELECT res.vec_id, res.cell, s.sub,
                   res.r[s.sub * {_PQ_DSUB} + 1 : s.sub * {_PQ_DSUB} + {_PQ_DSUB}] AS sv
            FROM res, subs s),
    codes AS (
        SELECT vec_id, cell, sub, code FROM (
            SELECT c.vec_id, c.cell, c.sub, b.code,
                   row_number() OVER (PARTITION BY c.vec_id, c.sub
                       ORDER BY list_dot_product(
                           list_transform(generate_series(1, {_PQ_DSUB}),
                                          i -> c.sv[i] - b.cvec[i]),
                           list_transform(generate_series(1, {_PQ_DSUB}),
                                          i -> c.sv[i] - b.cvec[i])) ASC,
                           b.code) AS rn
            FROM rvs c JOIN cb b USING (sub))
        WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, nv FROM nrm WHERE vec_id < {_IVF_NQ}),
    probes AS (
        SELECT query_id, cell, cdot FROM (
            SELECT q.query_id, c.cell,
                   list_dot_product(q.nv, c.ccvec) AS cdot,
                   row_number() OVER (PARTITION BY q.query_id
                       ORDER BY list_dot_product(q.nv, c.ccvec) DESC, c.cell) AS rn
            FROM q, cents c)
        WHERE rn <= {_IVFPQ_PROBE}),
    qtab AS (SELECT q.query_id, b.sub, b.code,
                    list_dot_product(
                        q.nv[b.sub * {_PQ_DSUB} + 1 : b.sub * {_PQ_DSUB} + {_PQ_DSUB}],
                        b.cvec) AS d
             FROM q, cb b),
    scored AS (
        SELECT p.query_id, c.vec_id AS neighbor_id, p.cdot,
               sum(t.d ORDER BY t.sub) AS adc
        FROM codes c
        JOIN probes p ON p.cell = c.cell
        JOIN qtab t ON t.query_id = p.query_id
                   AND t.sub = c.sub AND t.code = c.code
        WHERE p.query_id <> c.vec_id
        GROUP BY p.query_id, c.vec_id, p.cdot)
    SELECT query_id, neighbor_id, CAST(rk AS INT) AS rk, round(sim, 6) AS sim
    FROM (SELECT query_id, neighbor_id, cdot + adc AS sim,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cdot + adc DESC, neighbor_id) AS rk
          FROM scored)
    WHERE rk <= {_IVF_K}
    """,
)
def similarity_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ top-k (deferred — pytest-mirrored): the corpus
    travels as (cell, m codes); score = centroid dot + residual ADC."""
    return similarity.topk_ivfpq(
        load_table(spark, sf_dir, "embeddings"),
        F.col("vec_id") < _IVF_NQ,
        k=_IVF_K,
        n_cells=_IVFPQ_CELLS,
        n_probe=_IVFPQ_PROBE,
        m=_PQ_M,
        kc=_PQ_KC,
    )


# --------------------------------------------------------------------------
# IVF-PQ recall row — the fourth ANN family's quality signal (LSH /
# IVF / PQ / IVF-PQ each carry one); both subqueries are the oracle
# texts of their own green rows, so drift in either breaks this too.
# --------------------------------------------------------------------------
def _register_similarity_recall_ivfpq() -> None:
    exact_sql = _ORACLE["similarity_topk"]
    approx_sql = _ORACLE["similarity_topk_ivfpq"]
    register(
        "similarity_recall_ivfpq",
        sql=f"""
        SELECT e.query_id,
               CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
               round(count(a.neighbor_id) / {_TOPK_K}, 4) AS recall
        FROM ({exact_sql}) e
        LEFT JOIN ({approx_sql}) a
          ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        GROUP BY e.query_id
        """,
    )(_similarity_recall_ivfpq)


def _similarity_recall_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the residual IVFADC path vs the exact top-k
    (deferred — pytest-mirrored)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.recall_vs_bruteforce(
        emb, F.col("vec_id") < _N_QUERIES, k=_TOPK_K, method="ivfpq",
        n_cells=_IVFPQ_CELLS, n_probe=_IVFPQ_PROBE,
    )


_register_similarity_recall_ivfpq()


# --------------------------------------------------------------------------
# contrastive hard-negative mining: top-k most-similar NON-duplicate
# neighbors (near-dups at cosine >= eps excluded BEFORE ranking — a
# near-dup mined as a "negative" poisons a contrastive loss).
# --------------------------------------------------------------------------
_HN_EPS = 0.9


@register(
    "similarity_hard_negatives",
    sql=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
               FROM embeddings WHERE vec_id < {_N_QUERIES}),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS ce FROM embeddings),
    scored AS (
        SELECT query_id, neighbor_id,
               round(list_dot_product(qe, ce) /
                 (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce))),
                 6) AS sim
        FROM q, c WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, CAST(rk AS INT) AS rk, sim
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, neighbor_id) AS rk
          FROM scored WHERE sim < {_HN_EPS!r})
    WHERE rk <= {_TOPK_K}
    """,
)
def similarity_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard negatives over the embeddings table (deferred —
    pytest-mirrored)."""
    return similarity.hard_negatives(
        load_table(spark, sf_dir, "embeddings"),
        F.col("vec_id") < _N_QUERIES,
        k=_TOPK_K,
        dup_eps=_HN_EPS,
    )


# --------------------------------------------------------------------------
# HITS hubs/authorities over the synthetic source graph — PageRank's
# complement (hub = points at good pages, authority = pointed at by
# good hubs); oracle unrolls the mutual-reinforcement rounds with the
# same L1-total cross joins.
# --------------------------------------------------------------------------
_HITS_ITERS = 3


def _hits_oracle_sql() -> str:
    rounds = []
    prev_a, prev_h = None, "h0"
    for t in range(_HITS_ITERS):
        rounds.append(f"""
    ar{t} AS (
        SELECT e.dst AS node, sum(h.h) AS ar
        FROM edges e JOIN {prev_h} h ON h.node = e.src
        GROUP BY e.dst),
    at{t} AS (SELECT coalesce(sum(ar), 0) AS at FROM ar{t}),
    a{t + 1} AS (
        SELECT n.node,
               CASE WHEN at{t}.at > 0
                    THEN coalesce(ar{t}.ar, 0) / at{t}.at ELSE 0 END AS a
        FROM nodes n LEFT JOIN ar{t} ON ar{t}.node = n.node
        CROSS JOIN at{t}),
    hr{t} AS (
        SELECT e.src AS node, sum(a.a) AS hr
        FROM edges e JOIN a{t + 1} a ON a.node = e.dst
        GROUP BY e.src),
    ht{t} AS (SELECT coalesce(sum(hr), 0) AS ht FROM hr{t}),
    h{t + 1} AS (
        SELECT n.node,
               CASE WHEN ht{t}.ht > 0
                    THEN coalesce(hr{t}.hr, 0) / ht{t}.ht ELSE 0 END AS h
        FROM nodes n LEFT JOIN hr{t} ON hr{t}.node = n.node
        CROSS JOIN ht{t})""")
        prev_h = f"h{t + 1}"
        prev_a = f"a{t + 1}"
    return f"""
    WITH ord AS (
        SELECT source, row_number() OVER (ORDER BY source) - 1 AS i
        FROM (SELECT DISTINCT source FROM documents)),
    k AS (SELECT CAST(count(*) AS DOUBLE) AS c, count(*) AS ki FROM ord),
    edges AS (
        SELECT a.source AS src, b.source AS dst
        FROM ord a JOIN k ON true JOIN ord b ON b.i = (a.i * 3 + 1) % k.ki
        WHERE a.source <> b.source
        UNION
        SELECT a.source, b.source
        FROM ord a JOIN k ON true JOIN ord b ON b.i = (a.i * 7 + 2) % k.ki
        WHERE a.source <> b.source),
    nodes AS (SELECT src AS node FROM edges
              UNION SELECT dst FROM edges),
    h0 AS (SELECT node, 1.0 / k.c AS h FROM nodes CROSS JOIN k),
    {",".join(rounds)}
    SELECT n.node AS source,
           round(h.h, 9) AS hub, round(a.a, 9) AS authority
    FROM nodes n
    JOIN {prev_h} h ON h.node = n.node
    JOIN {prev_a} a ON a.node = n.node
    """


@register("graph_source_hits", sql=_hits_oracle_sql())
def graph_source_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS over the synthetic source graph (deferred —
    pytest-mirrored; numpy differential in tests/test_graph.py)."""
    from ..operators.graph import hits

    docs = load_table(spark, sf_dir, "documents")
    out = hits(_source_edges(docs), iters=_HITS_ITERS)
    return out.select(
        F.col("node").alias("source"),
        F.round("hub", 9).alias("hub"),
        F.round("authority", 9).alias("authority"),
    )


# --------------------------------------------------------------------------
# per-source curation report: volume, duplication, language purity,
# length profile, benchmark contamination — one row per source (the
# dashboard a corpus owner reads before re-crawl/re-weight decisions).
# --------------------------------------------------------------------------
@register(
    "pipeline_corpus_report",
    sql=f"""
    WITH norm AS (SELECT doc_id, source,
                         lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t
                  FROM documents),
    stats AS (SELECT doc_id, source, t,
                     CAST(len(string_split(t, ' ')) AS BIGINT) AS n_words,
                     {", ".join(f"{_sql_lang_score(lang)} AS score_{lang}" for lang in sorted(text.LANG_MARKERS))}
              FROM norm),
    langed AS (SELECT doc_id, source, t, n_words,
                      CASE WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
                           {"".join(f"WHEN score_{lang} = greatest(score_de, score_en, score_es, score_fr) THEN '{lang}' " for lang in sorted(text.LANG_MARKERS))}
                           ELSE 'und' END AS pred_lang
               FROM stats),
    per_source AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT md5(t)) AS BIGINT) AS n_distinct_texts,
               round(avg(CASE WHEN pred_lang = 'en' THEN 1 ELSE 0 END), 4)
                   AS lang_frac,
               round(avg(n_words), 4) AS mean_words
        FROM langed GROUP BY source),
    words AS (SELECT doc_id, t, string_split(t, ' ') AS w FROM norm),
    sh AS (
        SELECT DISTINCT doc_id,
               CASE WHEN len(w) < 3 THEN t
                    ELSE array_to_string(w[i:i+2], ' ') END AS shingle
        FROM words, unnest(generate_series(1, greatest(len(w) - 2, 1))) s(i)),
    bsh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 19 = 0),
    flags AS (
        SELECT s.doc_id,
               max(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
                   AS contaminated
        FROM sh s LEFT JOIN bsh b ON b.shingle = s.shingle
        GROUP BY s.doc_id),
    cont AS (
        SELECT d.source, round(avg(f.contaminated), 4) AS contaminated_frac
        FROM documents d JOIN flags f ON f.doc_id = d.doc_id
        GROUP BY d.source)
    SELECT p.source, p.n_docs, p.n_distinct_texts,
           round((p.n_docs - p.n_distinct_texts)
                 / CAST(p.n_docs AS DOUBLE), 4) AS exact_dup_frac,
           p.lang_frac, p.mean_words, c.contaminated_frac
    FROM per_source p JOIN cont c ON c.source = p.source
    """,
)
def pipeline_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation dashboard (deferred — pytest-mirrored);
    benchmark = the doc_id % 19 == 0 slice (the dedup_decontaminate
    fixture)."""
    from .corpus import corpus_report

    docs = load_table(spark, sf_dir, "documents")
    return corpus_report(docs, docs.filter(F.col("doc_id") % 19 == 0))


# --------------------------------------------------------------------------
# exact-substring (span-level) dedup — Lee et al. 2022: duplicated
# substrings of >= L words are cut from every doc but their globally
# first occurrence; relational form (gram window + gaps-and-islands)
# instead of a suffix array
# --------------------------------------------------------------------------
_SUBL = 8  # gram length (word count floor for a span to be "duplicated")


@register(
    "dedup_substrings",
    sql=f"""
    WITH norm AS ({_NORM}),
    words AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
    grams AS (
        SELECT doc_id, CAST(i - 1 AS INT) AS pos,
               md5(array_to_string(w[i:i+{_SUBL - 1}], ' ')) AS gh
        FROM words, unnest(generate_series(1, len(w) - {_SUBL - 1})) s(i)
        WHERE len(w) >= {_SUBL}),
    dups AS (
        SELECT doc_id, pos, pos + {_SUBL} AS e FROM (
            SELECT doc_id, pos,
                   row_number() OVER (PARTITION BY gh
                                      ORDER BY doc_id, pos) AS rn
            FROM grams) WHERE rn > 1),
    runs AS (
        SELECT doc_id, pos, e,
               max(e) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS pe
        FROM dups),
    isl AS (
        SELECT doc_id, pos, e,
               sum(CASE WHEN pe IS NULL OR pos > pe THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS g
        FROM runs),
    spans AS (
        SELECT doc_id, min(pos) AS b, max(e) AS e2
        FROM isl GROUP BY doc_id, g),
    stats AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
               CAST(sum(e2 - b) AS BIGINT) AS n_dup_words
        FROM spans GROUP BY doc_id),
    wordidx AS (
        SELECT doc_id, CAST(i - 1 AS INT) AS wi, w[i] AS word
        FROM words, unnest(generate_series(1, len(w))) s(i)),
    kept AS (
        SELECT x.doc_id, x.wi, x.word
        FROM wordidx x
        WHERE NOT EXISTS (SELECT 1 FROM spans s
                          WHERE s.doc_id = x.doc_id
                            AND x.wi >= s.b AND x.wi < s.e2)),
    perdoc AS (
        SELECT doc_id, string_agg(word, ' ' ORDER BY wi) AS clean_text
        FROM kept GROUP BY doc_id)
    SELECT w.doc_id, CAST(len(w.w) AS BIGINT) AS n_words,
           coalesce(st.n_spans, 0) AS n_spans,
           coalesce(st.n_dup_words, 0) AS n_dup_words,
           coalesce(p.clean_text, '') AS clean_text
    FROM words w
    LEFT JOIN stats st ON st.doc_id = w.doc_id
    LEFT JOIN perdoc p ON p.doc_id = w.doc_id
    """,
)
def dedup_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact-substring dedup (deferred — pytest-mirrored):
    keep each duplicated >= _SUBL-word substring's first occurrence,
    cut every later copy mid-document."""
    return dedup.strip_duplicate_spans(
        load_table(spark, sf_dir, "documents"), min_words=_SUBL,
        hash_mode="md5",  # oracle parity: DuckDB restates md5 gram hashes;
                          # production default is the 8-byte xxhash64 mode
    )


# --------------------------------------------------------------------------
# contamination SPANS + surgical decontamination: WHERE the benchmark
# overlap sits inside each doc (dedup_decontaminate flags the doc;
# this cuts exactly the overlapping passages). Benchmark fixture =
# the doc_id % 19 == 0 slice, as in dedup_decontaminate.
# --------------------------------------------------------------------------
@register(
    "dedup_decontaminate_spans",
    sql=f"""
    WITH norm AS ({_NORM}),
    words AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
    grams AS (
        SELECT doc_id, CAST(i - 1 AS INT) AS pos,
               md5(array_to_string(w[i:i+{_SUBL - 1}], ' ')) AS gh
        FROM words, unnest(generate_series(1, len(w) - {_SUBL - 1})) s(i)
        WHERE len(w) >= {_SUBL}),
    bgrams AS (SELECT DISTINCT gh FROM grams WHERE doc_id % 19 = 0),
    hits AS (
        SELECT g.doc_id, g.pos, g.pos + {_SUBL} AS e
        FROM grams g JOIN bgrams b ON b.gh = g.gh),
    runs AS (
        SELECT doc_id, pos, e,
               max(e) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS pe
        FROM hits),
    isl AS (
        SELECT doc_id, pos, e,
               sum(CASE WHEN pe IS NULL OR pos > pe THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS g
        FROM runs),
    spans AS (
        SELECT doc_id, min(pos) AS b, max(e) AS e2
        FROM isl GROUP BY doc_id, g),
    stats AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
               CAST(sum(e2 - b) AS BIGINT) AS n_dup_words
        FROM spans GROUP BY doc_id),
    wordidx AS (
        SELECT doc_id, CAST(i - 1 AS INT) AS wi, w[i] AS word
        FROM words, unnest(generate_series(1, len(w))) s(i)),
    kept AS (
        SELECT x.doc_id, x.wi, x.word
        FROM wordidx x
        WHERE NOT EXISTS (SELECT 1 FROM spans s
                          WHERE s.doc_id = x.doc_id
                            AND x.wi >= s.b AND x.wi < s.e2)),
    perdoc AS (
        SELECT doc_id, string_agg(word, ' ' ORDER BY wi) AS clean_text
        FROM kept GROUP BY doc_id)
    SELECT w.doc_id, CAST(len(w.w) AS BIGINT) AS n_words,
           coalesce(st.n_spans, 0) AS n_spans,
           coalesce(st.n_dup_words, 0) AS n_dup_words,
           coalesce(p.clean_text, '') AS clean_text
    FROM words w
    LEFT JOIN stats st ON st.doc_id = w.doc_id
    LEFT JOIN perdoc p ON p.doc_id = w.doc_id
    """,
)
def dedup_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surgical decontamination (deferred — pytest-mirrored): cut
    exactly the benchmark-overlapping >= _SUBL-word passages; a
    benchmark doc itself strips to empty (it is pure overlap)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.strip_contamination(
        docs, docs.filter(F.col("doc_id") % 19 == 0), min_words=_SUBL,
        hash_mode="md5",  # oracle parity (see dedup_substrings)
    )


# --------------------------------------------------------------------------
# quality-classifier TRAINING: distributed full-batch logistic
# regression over hashed-unigram features (the fastText/CCNet recipe:
# positives = trusted-source seed set). The oracle unrolls each GD
# iteration as CTE pairs; the gradient sums are 1e9 fixed-point
# integers (order-independent — the scale-safe form), per-doc logits
# fold in bucket order, p/weights round to 9 dp each iteration, so
# every trained weight matches bit-for-bit.
# --------------------------------------------------------------------------
_TRN_DIM, _TRN_ITERS, _TRN_LR, _TRN_SEED = 32, 3, 2.0, "qtrain-v1"
_TRN_POS = "('src0', 'src1', 'src2', 'src3')"


def _clf_iter_sql(i: int) -> str:
    """CTE block: logits+p under w{i}, fixed-point gradient, w{i+1}."""
    return f"""
    z{i} AS (
        SELECT f.doc_id, max(f.y) AS y,
               sum(f.x * w.w ORDER BY f.bucket) AS z
        FROM feats f JOIN w{i} w USING (bucket) GROUP BY f.doc_id),
    p{i} AS (SELECT doc_id, y, round(1.0 / (1.0 + exp(-z)), 9) AS p
             FROM z{i}),
    g{i} AS (
        SELECT f.bucket,
               sum(CAST(round((p.p - f.y) * f.x * 1e9) AS HUGEINT)) AS gq
        FROM feats f JOIN p{i} p USING (doc_id) GROUP BY f.bucket),
    w{i + 1} AS (
        SELECT w.bucket,
               round(w.w - {_TRN_LR!r} * ((coalesce(g.gq, 0) / 1e9) / nn.c),
                     9) AS w
        FROM w{i} w LEFT JOIN g{i} g USING (bucket), nn)"""


@register(
    "text_classifier_train",
    sql=f"""
    WITH base AS (
        SELECT doc_id,
               lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t,
               CAST(source IN {_TRN_POS} AS DOUBLE) AS y
        FROM documents),
    words AS (SELECT doc_id, y, string_split(t, ' ') AS w FROM base),
    toks AS (SELECT doc_id, y, len(w) AS n, unnest(w) AS tok FROM words),
    bf AS (
        SELECT doc_id, y, n,
               CAST(('0x' || substr(md5('{_TRN_SEED}:' || tok), 1, 8))
                    AS BIGINT) % {_TRN_DIM} AS bucket
        FROM toks),
    feat AS (
        SELECT doc_id, y, bucket, CAST(count(*) AS DOUBLE) / n AS x
        FROM bf GROUP BY doc_id, y, bucket, n),
    feats AS (
        SELECT doc_id, y, bucket, x FROM feat
        UNION ALL
        SELECT doc_id, y, CAST(-1 AS BIGINT) AS bucket, 1.0 AS x
        FROM words),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM words),
    w0 AS (SELECT CAST(unnest(generate_series(-1, {_TRN_DIM - 1}))
                       AS BIGINT) AS bucket, 0.0 AS w),
    {",".join(_clf_iter_sql(i) for i in range(_TRN_ITERS))}
    SELECT CAST(bucket AS INT) AS bucket, w AS weight FROM w{_TRN_ITERS}
    """,
)
def text_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained quality-gate model (bucket −1 = bias): distributed GD
    with literal-array model shipping, bucket-ordered bounded logit
    folds, and exact fixed-point gradient aggregation — the weights
    drop straight into the `text_classifier_score` inference gate."""
    return text.train_quality_classifier(
        load_table(spark, sf_dir, "documents"),
        positive=F.col("source").isin("src0", "src1", "src2", "src3"),
        dim=_TRN_DIM,
        iters=_TRN_ITERS,
        lr=_TRN_LR,
        seed=_TRN_SEED,
    )


# --------------------------------------------------------------------------
# C4 cleaning rules (Raffel et al. 2020 §2.2) — the second published
# heuristic bundle next to gopher_quality. The flat synthetic corpus
# has no lines/punctuation, so the query derives a STRUCTURED corpus
# deterministically first (period+newline every 5 words; bad phrase /
# code brace injected by doc_id residue) — every signal then varies
# and the oracle checks the full line/sentence arithmetic.
# --------------------------------------------------------------------------
@register(
    "text_c4_quality",
    sql=r"""
    WITH structured AS (
        SELECT doc_id,
               CASE WHEN doc_id % 23 = 0 THEN 'Lorem ipsum intro. ' ELSE '' END
               || regexp_replace(text, '((\w+ ){4}\w+) ', '\1.' || chr(10), 'g')
               || CASE WHEN doc_id % 29 = 0 THEN ' {code}' ELSE '' END AS text
        FROM documents),
    sig AS (
        SELECT doc_id,
               string_split(text, chr(10)) AS lines,
               lower(text) AS low
        FROM structured),
    per AS (
        SELECT doc_id,
               len(lines) AS n_lines,
               list_filter(lines, ln ->
                   regexp_matches(trim(ln), '[.!?"]$')
                   AND len(string_split_regex(trim(ln), '\s+')) >= 5)
                   AS kept,
               len(list_filter(string_split_regex(low, '[.!?]'),
                               s -> trim(s) != '')) AS n_sentences,
               CAST(contains(low, '{') OR contains(low, '}') AS INT)
                   AS has_brace,
               CAST(contains(low, 'lorem ipsum')
                    OR contains(low, 'terms of use')
                    OR contains(low, 'privacy policy')
                    OR contains(low, 'cookie policy') AS INT)
                   AS has_bad_phrase
        FROM sig)
    SELECT doc_id,
           CAST(n_lines AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept_lines,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           has_brace, has_bad_phrase,
           CAST(len(kept) >= 1 AND n_sentences >= 3
                AND has_brace = 0 AND has_bad_phrase = 0 AS INT) AS keep,
           array_to_string(list_transform(kept, ln -> trim(ln)), chr(10))
               AS clean_text
    FROM per
    """,
)
def text_c4_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 rule bundle over a deterministically structured corpus:
    line-level terminal-punctuation + min-word gate, sentence floor,
    code-brace and boilerplate-phrase blocklists, cleaned text."""
    docs = load_table(spark, sf_dir, "documents")
    structured = docs.select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 23 == 0, F.lit("Lorem ipsum intro. "))
            .otherwise(F.lit("")),
            F.regexp_replace(
                F.col("text"), r"((\w+ ){4}\w+) ", "$1.\n"
            ),
            F.when(F.col("doc_id") % 29 == 0, F.lit(" {code}")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    return text.c4_quality(structured)


# --------------------------------------------------------------------------
# fractional epoch expansion — the training-multiset materializer for
# mixture weights given as per-source EPOCH factors (repeat counts):
# doc repeated floor(e) times + once more iff its deterministic hash
# draw < frac(e). Factors here: src{i} -> 0.25 + 0.35*(i mod 7).
# --------------------------------------------------------------------------
_EPOCH_SEED = "epoch-v1"
_EPOCH_FACTORS = {
    f"src{i}": round(0.25 + 0.35 * (i % 7), 2) for i in range(20)
}


@register(
    "text_epoch_expand",
    sql=f"""
    WITH f AS (
        SELECT * FROM (VALUES {", ".join(
            f"('{k}', {v!r})" for k, v in sorted(_EPOCH_FACTORS.items())
        )}) t(source, ep)),
    d AS (
        SELECT doc_id, d.source,
               CAST(floor(ep) + CASE WHEN
                   CAST(('0x' || substr(md5('{_EPOCH_SEED}:'
                        || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   / 4294967296.0 < ep - floor(ep)
                   THEN 1 ELSE 0 END AS INT) AS n
        FROM documents d JOIN f ON f.source = d.source)
    SELECT doc_id, source, CAST(i AS INT) AS copy_idx
    FROM d, unnest(generate_series(0, n - 1)) s(i)
    WHERE n > 0
    """,
)
def text_epoch_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fractional-epoch training multiset: literal factor
    map, one md5 draw per doc, bounded explode — shuffle-free."""
    return text.epoch_expand(
        load_table(spark, sf_dir, "documents"),
        factors=_EPOCH_FACTORS,
        seed=_EPOCH_SEED,
    )


# --------------------------------------------------------------------------
# CCNet quality tiers (Wenzek et al. 2020): per detected language,
# head/middle/tail perplexity tertiles. The oracle composes the two
# existing green oracle texts (bigram LM + language id) as derived
# tables, so drift in either also breaks this row.
# --------------------------------------------------------------------------
def _register_ccnet_buckets() -> None:
    ppl = _ORACLE["text_perplexity_bigram"]
    lang = _ORACLE["text_language_id"]
    c1, c2 = repr(1.0 / 3.0), repr(2.0 / 3.0)
    register(
        "pipeline_ccnet_buckets",
        sql=f"""
        WITH scored AS (
            SELECT p.doc_id, l.pred_lang, p.ppl
            FROM ({ppl}) p JOIN ({lang}) l USING (doc_id)),
        cuts AS (
            SELECT pred_lang,
                   round(quantile_cont(ppl, {c1}), 6) AS c1,
                   round(quantile_cont(ppl, {c2}), 6) AS c2
            FROM scored GROUP BY pred_lang)
        SELECT s.doc_id, s.pred_lang, s.ppl,
               CASE WHEN s.ppl <= c.c1 THEN 'head'
                    WHEN s.ppl <= c.c2 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM scored s JOIN cuts c USING (pred_lang)
        """,
    )(_pipeline_ccnet_buckets)


def _pipeline_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.ccnet_buckets(load_table(spark, sf_dir, "documents"))


_register_ccnet_buckets()


# --------------------------------------------------------------------------
# filter-provenance audit: which gate dropped each document. Stage
# verdicts respect the pipeline staging (unreached gates report the
# sentinel -1); `kept` is membership in the clean_corpus survivor set,
# whose full oracle text is composed as a derived table — so drift in
# the pipeline oracle also breaks this row.
# --------------------------------------------------------------------------
def _register_filter_audit() -> None:
    clean = _ORACLE["pipeline_corpus_clean"]
    register(
        "pipeline_filter_audit",
        sql=f"""
        WITH norm0 AS (SELECT doc_id, text,
                              lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t
                       FROM documents),
        stats AS (SELECT doc_id, t,
                         CAST(len(string_split(t, ' ')) AS BIGINT) AS n_words,
                         {", ".join(f"{_sql_lang_score(lang)} AS score_{lang}" for lang in sorted(text.LANG_MARKERS))}
                  FROM norm0),
        langed AS (SELECT doc_id, t, n_words,
                          CASE WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
                               {"".join(f"WHEN score_{lang} = greatest(score_de, score_en, score_es, score_fr) THEN '{lang}' " for lang in sorted(text.LANG_MARKERS))}
                               ELSE 'und' END AS pred_lang
                   FROM stats),
        flags AS (SELECT doc_id, t, n_words, pred_lang,
                         CAST(n_words BETWEEN {_CC_MIN} AND {_CC_MAX} AS INT) AS pass_quality,
                         CAST(pred_lang = 'en' AS INT) AS pass_language
                  FROM langed),
        keepers AS (
            SELECT md5(t) AS h, min(doc_id) AS keeper
            FROM flags WHERE pass_quality = 1 AND pass_language = 1
            GROUP BY md5(t)),
        kept AS (SELECT doc_id FROM ({clean})),
        audit AS (
            SELECT f.doc_id, f.n_words, f.pred_lang,
                   f.pass_quality, f.pass_language,
                   CASE WHEN f.pass_quality = 1 AND f.pass_language = 1
                        THEN CAST(f.doc_id = k.keeper AS INT)
                        ELSE -1 END AS pass_exact
            FROM flags f LEFT JOIN keepers k ON k.h = md5(f.t)),
        audit2 AS (
            SELECT a.*,
                   CASE WHEN a.pass_exact = 1
                        THEN CAST(kt.doc_id IS NOT NULL AS INT)
                        ELSE -1 END AS pass_near
            FROM audit a LEFT JOIN kept kt ON kt.doc_id = a.doc_id)
        SELECT doc_id, n_words, pred_lang, pass_quality, pass_language,
               pass_exact, pass_near,
               CAST(pass_near = 1 AS INT) AS kept,
               CASE WHEN pass_quality = 0 THEN 'quality'
                    WHEN pass_language = 0 THEN 'language'
                    WHEN pass_exact = 0 THEN 'exact_dup'
                    WHEN pass_near = 0 THEN 'near_dup'
                    ELSE 'kept' END AS dropped_at
        FROM audit2
        """,
    )(_pipeline_filter_audit)


def _pipeline_filter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .corpus import filter_audit

    return filter_audit(
        load_table(spark, sf_dir, "documents"),
        lang="en",
        min_words=_CC_MIN,
        max_words=_CC_MAX,
        jaccard_threshold=_CC_T,
    )


_register_filter_audit()


# --------------------------------------------------------------------------
# token-budget ledger: per-source raw -> post-clean -> epoch-expanded
# token accounting (the mixture-planning table). Composes the
# clean-corpus oracle for survivors + the epoch_expand draw arithmetic
# — the expansion is counted, never materialized.
# --------------------------------------------------------------------------
def _register_token_report() -> None:
    clean = _ORACLE["pipeline_corpus_clean"]
    factors_sql = ", ".join(
        f"('{k}', {v!r})" for k, v in sorted(_EPOCH_FACTORS.items())
    )
    register(
        "pipeline_token_report",
        sql=f"""
        WITH raw AS (
            SELECT source, CAST(count(*) AS BIGINT) AS raw_docs,
                   CAST(sum(len(string_split(
                       lower(regexp_replace(trim(text), '\\s+', ' ', 'g')),
                       ' '))) AS BIGINT) AS raw_tokens
            FROM documents GROUP BY source),
        kept AS (SELECT doc_id, n_words FROM ({clean})),
        kf AS (
            SELECT k.doc_id, k.n_words, d.source
            FROM kept k JOIN documents d USING (doc_id)),
        f AS (SELECT * FROM (VALUES {factors_sql}) t(source, ep)),
        kc AS (
            SELECT kf.source, kf.n_words,
                   CAST(floor(coalesce(f.ep, 0.0))
                        + CASE WHEN
                            CAST(('0x' || substr(md5('{_EPOCH_SEED}:'
                                 || CAST(kf.doc_id AS VARCHAR)), 1, 8))
                                AS BIGINT) / 4294967296.0
                            < coalesce(f.ep, 0.0) - floor(coalesce(f.ep, 0.0))
                          THEN 1 ELSE 0 END AS BIGINT) AS n
            FROM kf LEFT JOIN f USING (source)),
        cl AS (
            SELECT source, CAST(count(*) AS BIGINT) AS clean_docs,
                   CAST(sum(n_words) AS BIGINT) AS clean_tokens,
                   CAST(sum(n * n_words) AS BIGINT) AS train_tokens
            FROM kc GROUP BY source)
        SELECT r.source, r.raw_docs, r.raw_tokens,
               CAST(coalesce(c.clean_docs, 0) AS BIGINT) AS clean_docs,
               CAST(coalesce(c.clean_tokens, 0) AS BIGINT) AS clean_tokens,
               CAST(coalesce(c.train_tokens, 0) AS BIGINT) AS train_tokens
        FROM raw r LEFT JOIN cl c USING (source)
        """,
    )(_pipeline_token_report)


def _pipeline_token_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .corpus import token_report

    return token_report(
        load_table(spark, sf_dir, "documents"),
        factors=_EPOCH_FACTORS,
        lang="en",
        min_words=_CC_MIN,
        max_words=_CC_MAX,
        jaccard_threshold=_CC_T,
        seed=_EPOCH_SEED,
    )


_register_token_report()


# --------------------------------------------------------------------------
# embedding snapshot drift: per-dimension mean-vector comparison
# between two drops (vec_id parity slices stand in for snapshots).
# Ordered folds keep every double bit-identical across engines.
# --------------------------------------------------------------------------
@register(
    "similarity_embedding_drift",
    sql=f"""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    ca AS (SELECT vec_id, s.pos, v[s.pos] AS val
           FROM emb, unnest(generate_series(1, len(v))) s(pos)
           WHERE vec_id % 2 = 0),
    cb AS (SELECT vec_id, s.pos, v[s.pos] AS val
           FROM emb, unnest(generate_series(1, len(v))) s(pos)
           WHERE vec_id % 2 = 1),
    ma AS (SELECT pos, sum(val ORDER BY vec_id) / count(*) AS ma
           FROM ca GROUP BY pos),
    mb AS (SELECT pos, sum(val ORDER BY vec_id) / count(*) AS mb
           FROM cb GROUP BY pos),
    j AS (SELECT ma.pos, ma.ma, mb.mb FROM ma JOIN mb USING (pos)),
    m AS (SELECT sum(ma * mb ORDER BY pos) AS dot,
                 sum(ma * ma ORDER BY pos) AS na2,
                 sum(mb * mb ORDER BY pos) AS nb2,
                 max(abs(ma - mb)) AS maxd,
                 sum((ma - mb) * (ma - mb) ORDER BY pos) AS d2
          FROM j),
    na AS (SELECT CAST(count(*) AS BIGINT) AS n_a FROM emb WHERE vec_id % 2 = 0),
    nb AS (SELECT CAST(count(*) AS BIGINT) AS n_b FROM emb WHERE vec_id % 2 = 1)
    SELECT na.n_a, nb.n_b,
           CASE WHEN m.na2 > 0 AND m.nb2 > 0
                THEN round(m.dot / (sqrt(m.na2) * sqrt(m.nb2)), 6) END
               AS mean_cosine,
           round(m.maxd, 6) AS max_dim_shift,
           round(sqrt(m.d2), 6) AS l2_shift
    FROM na, nb, m
    """,
)
def similarity_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_drift(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
    )


# --------------------------------------------------------------------------
# winnowing-based (edit-robust) decontamination — the sparse-index
# form of dedup_decontaminate: >= min_shared shared fingerprints flag
# a doc. Composes the green winnow-fingerprint oracle text for both
# sides (benchmark = the doc_id % 19 slice, as the exact form uses).
# --------------------------------------------------------------------------
def _register_decontaminate_winnow() -> None:
    fp = _ORACLE["text_winnow_fingerprints"]
    register(
        "dedup_decontaminate_winnow",
        sql=f"""
        WITH fps AS ({fp}),
        bench AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 19 = 0),
        hit AS (
            SELECT f.doc_id,
                   CASE WHEN b.fp IS NULL THEN 0 ELSE 1 END AS h
            FROM fps f LEFT JOIN bench b ON b.fp = f.fp)
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_fps,
               CAST(sum(h) AS BIGINT) AS n_shared_fps,
               CAST(sum(h) >= {_WIN_SHARED} AS INT) AS contaminated
        FROM hit GROUP BY doc_id
        """,
    )(_dedup_decontaminate_winnow)


def _dedup_decontaminate_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.decontaminate_winnow(
        docs,
        docs.filter(F.col("doc_id") % 19 == 0),
        min_shared=_WIN_SHARED,
        k=_WIN_K,
        window=_WIN_W,
    )


_register_decontaminate_winnow()


# --------------------------------------------------------------------------
# hashed bag-of-words doc embeddings (feature hashing) — the
# text→vector bridge; long form is the oracle shape. Counts are exact
# ints and the norm is sqrt of an INTEGER sum, so no fold-order
# question exists.
# --------------------------------------------------------------------------
_HE_DIM, _HE_SEED = 32, "hembed-v1"


@register(
    "text_hash_embed",
    sql=f"""
    WITH norm AS ({_NORM}),
    toks AS (SELECT doc_id, unnest(string_split(t, ' ')) AS tok FROM norm),
    b AS (SELECT doc_id,
                 CAST(('0x' || substr(md5('{_HE_SEED}:' || tok), 1, 8))
                      AS BIGINT) % {_HE_DIM} AS bucket
          FROM toks),
    c AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS c
          FROM b GROUP BY doc_id, bucket),
    n AS (SELECT doc_id, sum(c * c) AS ssq FROM c GROUP BY doc_id)
    SELECT c.doc_id, c.bucket, round(c.c / sqrt(n.ssq), 6) AS val
    FROM c JOIN n USING (doc_id)
    """,
)
def text_hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.hash_embed(
        load_table(spark, sf_dir, "documents"), dim=_HE_DIM, seed=_HE_SEED
    )


# --------------------------------------------------------------------------
# containment near-dup: the asymmetric screen — a short doc wholly
# quoted inside a longer one has high |A∩B|/|A| but low symmetric
# Jaccard (diluted by the union), so the standard pair screen misses
# exactly the subset-duplication web corpora are fullest of. Same
# shingle construction as the Jaccard family; directed output.
# --------------------------------------------------------------------------
_CONT_T = 0.6


@register(
    "dedup_containment",
    sql=f"""
    WITH {_SHINGLES},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    undirected AS (
        SELECT doc_a, doc_b, n_common, sa.n_sh AS n_a, sb.n_sh AS n_b
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
    ),
    directed AS (
        SELECT doc_a AS doc_id, doc_b AS container_id,
               n_common / n_a AS c FROM undirected
        UNION ALL
        SELECT doc_b AS doc_id, doc_a AS container_id,
               n_common / n_b AS c FROM undirected
    )
    SELECT doc_id, container_id, round(c, 6) AS containment
    FROM directed WHERE c >= {_CONT_T}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.containment_pairs(
        load_table(spark, sf_dir, "documents"), threshold=_CONT_T
    )


# --------------------------------------------------------------------------
# Unicode-script profile: the coarse router in FRONT of marker-word
# language ID (which only works within an alphabet). Counts are
# explicit BMP codepoint-range tests — identical arithmetic on both
# engines by construction (no \p{script} table drift).
# --------------------------------------------------------------------------
def _script_count_sql(ranges: tuple) -> str:
    cond = " OR ".join(
        f"(oc BETWEEN {lo} AND {hi})" for lo, hi in ranges
    )
    return f"CAST(coalesce(sum(CASE WHEN {cond} THEN 1 END), 0) AS BIGINT)"


def _register_script_profile() -> None:
    names = sorted(text.SCRIPT_RANGES)
    counts = ",\n               ".join(
        f"{_script_count_sql(text.SCRIPT_RANGES[s])} AS {s}" for s in names
    )
    tie = " ".join(
        f"WHEN {s} = best THEN '{s}'" for s in names
    )
    total = " + ".join(names)
    register(
        "text_script_profile",
        sql=f"""
        WITH chars AS (
            SELECT doc_id, ord(c) AS oc
            FROM (SELECT doc_id,
                         unnest(string_split(coalesce(text, ''), '')) AS c
                  FROM documents)
            WHERE c <> ''),
        counted AS (
            SELECT d.doc_id,
                   CAST(length(coalesce(d.text, '')) AS BIGINT) AS n_chars,
                   {counts}
            FROM documents d LEFT JOIN chars ON chars.doc_id = d.doc_id
            GROUP BY d.doc_id, d.text)
        SELECT doc_id, n_chars, {", ".join(names)},
               CAST(n_chars - ({total}) AS BIGINT) AS other,
               CASE WHEN greatest({", ".join(names)}) = 0 THEN 'none'
                    {tie}
                    ELSE 'none' END AS main_script
        FROM (SELECT *, greatest({", ".join(names)}) AS best FROM counted)
        """,
    )(_text_script_profile)


def _text_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.script_profile(load_table(spark, sf_dir, "documents"))


_register_script_profile()


# --------------------------------------------------------------------------
# hybrid retrieval (RRF): reciprocal-rank fusion of the BM25 lexical
# top-k and the cosine vector top-k — the serving-side combination
# every RAG stack runs. Oracle restates both lists and the fusion.
# --------------------------------------------------------------------------
_HYB_QID, _HYB_K, _HYB_KEACH, _HYB_C = 3, 10, 15, 60


@register(
    "text_search_hybrid",
    sql=f"""
    WITH norm AS ({_NORM}),
    toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
    lens AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM toks),
    stats AS (SELECT CAST(count(*) AS BIGINT) AS n, avg(dl) AS avgdl FROM lens),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM (SELECT doc_id, unnest(w) AS term FROM toks)
           WHERE term IN ('spark', 'shuffle', 'query')
           GROUP BY doc_id, term),
    dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
    scored AS (
        SELECT tf.doc_id, tf.term,
               ln(1.0 + (s.n - dfq.df + 0.5) / (dfq.df + 0.5))
               * (tf.tf * (1.2 + 1))
               / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl)) AS sc
        FROM tf JOIN dfq USING (term) JOIN lens l ON l.doc_id = tf.doc_id, stats s),
    per_doc AS (
        SELECT doc_id, round(sum(sc ORDER BY term), 9) AS score
        FROM scored GROUP BY doc_id),
    lex AS (
        SELECT doc_id, CAST(rk AS INT) AS lex_rank
        FROM (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rk
              FROM per_doc)
        WHERE rk <= {_HYB_KEACH}),
    q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings
          WHERE vec_id = {_HYB_QID}),
    vscored AS (
        SELECT c.vec_id AS doc_id,
               list_dot_product(q.qe, c.ce) /
                 (sqrt(list_dot_product(q.qe, q.qe))
                  * sqrt(list_dot_product(c.ce, c.ce))) AS s
        FROM (SELECT vec_id, embedding::DOUBLE[] AS ce FROM embeddings) c, q
        WHERE c.vec_id <> {_HYB_QID}),
    vec AS (
        SELECT doc_id, CAST(rk AS INT) AS vec_rank
        FROM (SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rk
              FROM vscored)
        WHERE rk <= {_HYB_KEACH}),
    fused AS (
        SELECT coalesce(lex.doc_id, vec.doc_id) AS doc_id,
               lex.lex_rank, vec.vec_rank,
               round(coalesce(1.0 / ({_HYB_C} + lex.lex_rank), 0)
                     + coalesce(1.0 / ({_HYB_C} + vec.vec_rank), 0), 9)
                 AS rrf_score
        FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id)
    SELECT doc_id, rrf_score, lex_rank, vec_rank, CAST(rk AS INT) AS rk
    FROM (SELECT *, row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS rk
          FROM fused)
    WHERE rk <= {_HYB_K}
    """,
)
def text_search_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.hybrid_search_rrf(
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "embeddings"),
        ["spark", "shuffle", "query"],
        query_vec_id=_HYB_QID,
        k=_HYB_K,
        k_each=_HYB_KEACH,
        c=_HYB_C,
    )


# --------------------------------------------------------------------------
# crawl-to-crawl corpus diff: old = docs with doc_id % 7 != 0 (some
# removed), new = docs with id-shifted additions and % 5 == 0 texts
# perturbed (changed) — every status occurs on the fixture.
# --------------------------------------------------------------------------
@register(
    "pipeline_corpus_diff",
    sql=r"""
    WITH oldd AS (
        SELECT doc_id,
               md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS h,
               source
        FROM documents WHERE doc_id % 7 <> 0),
    newd AS (
        SELECT doc_id,
               md5(lower(regexp_replace(trim(
                   CASE WHEN doc_id % 5 = 0 THEN text || ' edited' ELSE text END
               ), '\s+', ' ', 'g'))) AS h,
               source
        FROM documents
        UNION ALL
        SELECT doc_id + 10000000,
               md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))),
               source
        FROM documents WHERE doc_id % 11 = 0)
    SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.h IS NULL THEN 'added'
                WHEN n.h IS NULL THEN 'removed'
                WHEN o.h = n.h THEN 'unchanged'
                ELSE 'changed' END AS status,
           o.source AS old_source, n.source AS new_source
    FROM oldd o FULL OUTER JOIN newd n ON o.doc_id = n.doc_id
    """,
)
def pipeline_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .corpus import corpus_diff

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 7 != 0)
    new = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" edited"))
        ).otherwise(F.col("text")),
    ).unionByName(
        docs.filter(F.col("doc_id") % 11 == 0).withColumn(
            "doc_id", F.col("doc_id") + 10_000_000
        )
    )
    return corpus_diff(old, new)


# --------------------------------------------------------------------------
# corpus clean with the CONTAINMENT (overlap-coefficient) drop rule:
# for every pair with n_common / min(|A|,|B|) >= t the smaller-set doc
# is dropped (the contained copy; equal sizes drop the higher id) —
# the pipeline form of the subset-duplication screen.
# --------------------------------------------------------------------------
_CCC_T = 0.6


@register(
    "pipeline_corpus_clean_containment",
    sql=f"""
    WITH norm0 AS (SELECT doc_id, text,
                          lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t
                   FROM documents),
    stats AS (SELECT doc_id, t,
                     CAST(len(string_split(t, ' ')) AS BIGINT) AS n_words,
                     {", ".join(f"{_sql_lang_score(lang)} AS score_{lang}" for lang in sorted(text.LANG_MARKERS))}
              FROM norm0),
    langed AS (SELECT doc_id, t, n_words,
                      CASE WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
                           {"".join(f"WHEN score_{lang} = greatest(score_de, score_en, score_es, score_fr) THEN '{lang}' " for lang in sorted(text.LANG_MARKERS))}
                           ELSE 'und' END AS pred_lang
               FROM stats),
    base AS (SELECT * FROM langed
             WHERE n_words BETWEEN {_CC_MIN} AND {_CC_MAX} AND pred_lang = 'en'),
    exact AS (SELECT doc_id, t, pred_lang, n_words FROM (
                  SELECT *, min(doc_id) OVER (PARTITION BY md5(t)) AS keep
                  FROM base)
              WHERE doc_id = keep),
    words AS (SELECT doc_id, t, string_split(t, ' ') AS w FROM exact),
    shingles AS (
        SELECT DISTINCT doc_id,
               CASE WHEN len(w) < 3 THEN t
                    ELSE array_to_string(w[i:i+2], ' ') END AS shingle
        FROM words, unnest(generate_series(1, greatest(len(w) - 2, 1))) s(i)),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id),
    qual AS (
        SELECT doc_a, doc_b, sa.n_sh AS n_a, sb.n_sh AS n_b
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_common / least(sa.n_sh, sb.n_sh) >= {_CCC_T}),
    dropc AS (
        SELECT DISTINCT CASE WHEN n_a < n_b THEN doc_a ELSE doc_b END AS doc_id
        FROM qual)
    SELECT e.doc_id, e.pred_lang, e.n_words
    FROM exact e LEFT JOIN dropc d ON d.doc_id = e.doc_id
    WHERE d.doc_id IS NULL
    """,
)
def pipeline_corpus_clean_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .corpus import clean_corpus

    return clean_corpus(
        load_table(spark, sf_dir, "documents"),
        lang="en",
        min_words=_CC_MIN,
        max_words=_CC_MAX,
        near_dedup="containment",
        containment_threshold=_CCC_T,
    )


# --------------------------------------------------------------------------
# batched hybrid retrieval: RRF fusion for a query TABLE — lexical
# lists from one corpus scan (bm25_search_many), vector lists from the
# aligned-id embeddings, fused per query. Single==many parity is
# pytest-pinned; the oracle restates both list builders + the fusion.
# --------------------------------------------------------------------------
_HYBM_QUERIES = [(3, "spark"), (3, "shuffle"), (7, "query"), (7, "data")]
_HYBM_K, _HYBM_KEACH = 5, 10


def _register_hybrid_many() -> None:
    vals = ", ".join(f"({q}, '{t}')" for q, t in _HYBM_QUERIES)
    register(
        "text_search_hybrid_many",
        sql=f"""
        WITH q(query_id, term) AS (VALUES {vals}),
        norm AS ({_NORM}),
        toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
        lens AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM toks),
        stats AS (SELECT CAST(count(*) AS BIGINT) AS n, avg(dl) AS avgdl FROM lens),
        tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
               FROM (SELECT doc_id, unnest(w) AS term FROM toks)
               WHERE term IN (SELECT DISTINCT term FROM q)
               GROUP BY doc_id, term),
        dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        scored AS (
            SELECT q.query_id, tf.doc_id, tf.term,
                   ln(1.0 + (s.n - dfq.df + 0.5) / (dfq.df + 0.5))
                   * (tf.tf * ({_BM25_K1} + 1))
                   / (tf.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * l.dl / s.avgdl)) AS sc
            FROM tf JOIN dfq USING (term) JOIN q USING (term)
            JOIN lens l ON l.doc_id = tf.doc_id, stats s),
        per AS (
            SELECT query_id, doc_id, round(sum(sc ORDER BY term), 9) AS score
            FROM scored GROUP BY query_id, doc_id),
        lex AS (
            SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
                   CAST(rk AS INT) AS lex_rank
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                               ORDER BY score DESC, doc_id) AS rk
                  FROM per)
            WHERE rk <= {_HYBM_KEACH}),
        qv AS (SELECT DISTINCT CAST(query_id AS BIGINT) AS qid FROM q),
        qe AS (SELECT qv.qid, e.embedding::DOUBLE[] AS qe
               FROM qv JOIN embeddings e ON e.vec_id = qv.qid),
        vscored AS (
            SELECT qe.qid AS query_id, c.vec_id AS doc_id,
                   list_dot_product(qe.qe, c.ce) /
                     (sqrt(list_dot_product(qe.qe, qe.qe))
                      * sqrt(list_dot_product(c.ce, c.ce))) AS s
            FROM (SELECT vec_id, embedding::DOUBLE[] AS ce FROM embeddings) c, qe
            WHERE c.vec_id <> qe.qid),
        vec AS (
            SELECT query_id, doc_id, CAST(rk AS INT) AS vec_rank
            FROM (SELECT query_id, doc_id,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY s DESC, doc_id) AS rk
                  FROM vscored)
            WHERE rk <= {_HYBM_KEACH}),
        fused AS (
            SELECT coalesce(lex.query_id, vec.query_id) AS query_id,
                   coalesce(lex.doc_id, vec.doc_id) AS doc_id,
                   lex.lex_rank, vec.vec_rank,
                   round(coalesce(1.0 / ({_HYB_C} + lex.lex_rank), 0)
                         + coalesce(1.0 / ({_HYB_C} + vec.vec_rank), 0), 9)
                     AS rrf_score
            FROM lex FULL OUTER JOIN vec
              ON lex.query_id = vec.query_id AND lex.doc_id = vec.doc_id)
        SELECT query_id, doc_id, rrf_score, lex_rank, vec_rank,
               CAST(rk AS INT) AS rk
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY rrf_score DESC, doc_id) AS rk
              FROM fused)
        WHERE rk <= {_HYBM_K}
        """,
    )(_text_search_hybrid_many)


def _text_search_hybrid_many(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = spark.createDataFrame(_HYBM_QUERIES, "query_id int, term string")
    return text.hybrid_search_many(
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "embeddings"),
        q,
        k=_HYBM_K,
        k_each=_HYBM_KEACH,
        c=_HYB_C,
    )


_register_hybrid_many()


# --------------------------------------------------------------------------
# DoReMi domain reweighting (Xie et al. 2023): exponentiated-gradient
# steps on the domain simplex driven by per-domain excess unigram
# surprisal. The oracle unrolls every EG step as CTE pairs; simplex
# normalizers are ordered folds (sum ORDER BY source), per-token
# surprisal is 1e9 fixed-point so the per-domain loss sums are exact
# integers — each step's weights match bit-for-bit.
# --------------------------------------------------------------------------
_DRM_ITERS, _DRM_ETA, _DRM_SMOOTH = 4, 1.0, 0.01
_DRM_SAMPLE_TOTAL, _DRM_SEED = 8_000, "doremi-v1"


def _doremi_iter_sql(i: int) -> str:
    """CTE block: one EG step — multiplicative update, ordered-fold
    normalizer, uniform smoothing."""
    return f"""
    u{i} AS (SELECT w.source, round(w.w * exp({_DRM_ETA!r} * d.excess), 9) AS u
             FROM w{i} w JOIN dom d USING (source)),
    z{i} AS (SELECT sum(u ORDER BY source) AS z FROM u{i}),
    w{i + 1} AS (SELECT u.source,
                        round({(1.0 - _DRM_SMOOTH)!r} * u.u / z.z
                              + {_DRM_SMOOTH!r} / g.k, 9) AS w
                 FROM u{i} u, z{i} z, gstat g)"""


_DRM_CTES = f"""
    norm AS ({_NORM}),
    d2 AS (SELECT n.doc_id, d.source, n.t
           FROM norm n JOIN documents d USING (doc_id)),
    toks AS (SELECT source, unnest(string_split(t, ' ')) AS tok FROM d2),
    tk AS (SELECT source, tok FROM toks WHERE len(tok) > 0),
    cnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tk GROUP BY tok),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cnt),
    surp AS (SELECT c.tok,
                    CAST(round(round(ln(t.n) - ln(c.c), 9) * 1e9) AS BIGINT)
                        AS sq
             FROM cnt c, tot t),
    dt AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
           FROM tk GROUP BY source, tok),
    dq AS (SELECT d.source,
                  sum(CAST(d.c * s.sq AS HUGEINT)) AS q,
                  CAST(sum(d.c) AS BIGINT) AS n_tokens
           FROM dt d JOIN surp s USING (tok) GROUP BY d.source),
    nd AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY source),
    dom0 AS (SELECT nd.source, nd.n_docs,
                    coalesce(dq.n_tokens, 0) AS n_tokens,
                    CASE WHEN coalesce(dq.n_tokens, 0) = 0 THEN 0.0
                         ELSE round((CAST(dq.q AS DOUBLE) / 1e9)
                                    / dq.n_tokens, 9)
                    END AS loss
             FROM nd LEFT JOIN dq USING (source)),
    gstat AS (SELECT CAST(count(*) AS DOUBLE) AS k,
                    sum(loss * n_tokens ORDER BY source) AS xl,
                    CAST(sum(n_tokens) AS BIGINT) AS nn
             FROM dom0),
    dom AS (SELECT d.source, d.n_docs, d.n_tokens, d.loss,
                   round(greatest(d.loss
                                  - CASE WHEN g.nn = 0 THEN 0.0
                                         ELSE round(g.xl / g.nn, 9) END,
                                  0.0), 9) AS excess
            FROM dom0 d, gstat g),
    w0 AS (SELECT d.source, round(1.0 / g.k, 9) AS w FROM dom d, gstat g),
    {",".join(_doremi_iter_sql(i) for i in range(_DRM_ITERS))},
    wts AS (
        SELECT d.source, d.n_docs, d.n_tokens, d.loss, d.excess,
               round(({" + ".join(f"w{i}.w" for i in range(1, _DRM_ITERS + 1))})
                     / {_DRM_ITERS}, 9) AS weight
        FROM dom d
        {" ".join(f"JOIN w{i} ON w{i}.source = d.source"
                  for i in range(1, _DRM_ITERS + 1))})
"""


@register(
    "text_mix_doremi",
    sql=f"""
    WITH {_DRM_CTES}
    SELECT source, n_docs, n_tokens, loss, excess, weight FROM wts
    """,
)
def text_mix_doremi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi domain weights over the documents corpus (deferred —
    pytest-mirrored): per-domain excess unigram surprisal drives
    {_DRM_ITERS} smoothed EG steps; the across-step average weight is
    the published mixture estimator."""
    return text.doremi_mixture(
        load_table(spark, sf_dir, "documents"),
        iters=_DRM_ITERS,
        eta=_DRM_ETA,
        smoothing=_DRM_SMOOTH,
    )


@register(
    "text_mix_doremi_sample",
    sql=f"""
    WITH {_DRM_CTES},
    budgets AS (SELECT source,
                       CAST(floor(weight * {_DRM_SAMPLE_TOTAL}) AS BIGINT)
                           AS budget
                FROM wts),
    dtok AS (SELECT n.doc_id, d.source,
                    CAST(len(string_split(n.t, ' ')) AS BIGINT) AS n_tokens,
                    md5('{_DRM_SEED}:' || CAST(n.doc_id AS VARCHAR)) AS h
             FROM norm n JOIN documents d USING (doc_id)),
    cum AS (SELECT t.doc_id, t.source, t.n_tokens, b.budget,
                   CAST(sum(t.n_tokens) OVER (
                       PARTITION BY t.source ORDER BY t.h, t.doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS cum_tokens
            FROM dtok t JOIN budgets b USING (source))
    SELECT doc_id, source, n_tokens, cum_tokens, budget
    FROM cum WHERE cum_tokens <= budget
    """,
)
def text_mix_doremi_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end DoReMi draw (deferred — pytest-mirrored): the learned
    weights allocate a {_DRM_SAMPLE_TOTAL}-token budget, the
    deterministic hash-ordered prefix fill selects documents."""
    return text.doremi_sample(
        load_table(spark, sf_dir, "documents"),
        total_tokens=_DRM_SAMPLE_TOTAL,
        iters=_DRM_ITERS,
        eta=_DRM_ETA,
        smoothing=_DRM_SMOOTH,
        seed=_DRM_SEED,
    )


# --------------------------------------------------------------------------
# Personalized PageRank / TrustRank over the synthetic source graph:
# teleport restricted to the i % 4 == 0 seed sources. Same unrolled
# power iteration as graph_source_pagerank; the restart vector is a
# per-node CASE. (No dangling on this fixture — every source has
# out-edges — but both engines carry the dm * s term anyway.)
# --------------------------------------------------------------------------
def _ppr_oracle_sql() -> str:
    # every CTE read more than once is MATERIALIZED: inlined, each round
    # r{t+1} would recompute r{t} twice (through f{t} and d{t}) — 2^iters
    # graph builds (~50 s against ~0.05 s on sf0.001)
    rounds = []
    for t in range(_PR_ITERS):
        prev = f"r{t}"
        nxt = "MATERIALIZED " if t + 1 < _PR_ITERS else ""
        rounds.append(f"""
    f{t} AS (
        SELECT e.dst AS node, sum(r.rank / dg.outdeg) AS inflow
        FROM edges e
        JOIN {prev} r ON r.node = e.src
        JOIN deg dg ON dg.src = e.src
        GROUP BY e.dst),
    d{t} AS (
        SELECT coalesce(sum(rank), 0) AS dm FROM {prev}
        WHERE node NOT IN (SELECT src FROM deg)),
    r{t + 1} AS {nxt}(
        SELECT n.node,
               (1 - {_PR_D}) * sv.s
               + {_PR_D} * (coalesce(f{t}.inflow, 0) + d{t}.dm * sv.s) AS rank
        FROM nodes n
        JOIN sv ON sv.node = n.node
        LEFT JOIN f{t} ON f{t}.node = n.node
        CROSS JOIN d{t})""")
    return f"""
    WITH ord AS MATERIALIZED (
        SELECT source, row_number() OVER (ORDER BY source) - 1 AS i
        FROM (SELECT DISTINCT source FROM documents)),
    k AS MATERIALIZED (
        SELECT CAST(count(*) AS DOUBLE) AS c, count(*) AS ki FROM ord),
    edges AS MATERIALIZED (
        SELECT a.source AS src, b.source AS dst
        FROM ord a JOIN k ON true JOIN ord b ON b.i = (a.i * 3 + 1) % k.ki
        WHERE a.source <> b.source
        UNION
        SELECT a.source, b.source
        FROM ord a JOIN k ON true JOIN ord b ON b.i = (a.i * 7 + 2) % k.ki
        WHERE a.source <> b.source),
    nodes AS MATERIALIZED (SELECT src AS node FROM edges
                           UNION SELECT dst FROM edges),
    seeds AS MATERIALIZED (SELECT o.source AS node FROM ord o
                           JOIN nodes n ON n.node = o.source
                           WHERE o.i % 4 = 0),
    ks AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM seeds),
    sv AS MATERIALIZED (
        SELECT n.node,
               CASE WHEN s.node IS NOT NULL THEN 1.0 / ks.c
                    ELSE 0.0 END AS s
        FROM nodes n LEFT JOIN seeds s ON s.node = n.node CROSS JOIN ks),
    deg AS MATERIALIZED (SELECT src, CAST(count(*) AS DOUBLE) AS outdeg
                         FROM edges GROUP BY src),
    r0 AS MATERIALIZED (SELECT node, s AS rank FROM sv),
    {",".join(rounds)}
    SELECT node AS source, round(rank, 9) AS rank
    FROM r{_PR_ITERS}
    """


@register("graph_source_trustrank", sql=_ppr_oracle_sql())
def graph_source_trustrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank over the synthetic source graph: personalized
    PageRank seeded on every 4th source (deferred — pytest-mirrored;
    the numpy differential lives in tests/test_graph.py)."""
    from pyspark.sql import Window

    from ..operators.graph import personalized_pagerank

    docs = load_table(spark, sf_dir, "documents")
    ord_df = (
        docs.select("source")
        .distinct()
        .withColumn("i", F.row_number().over(Window.orderBy("source")) - 1)
    )
    seeds = ord_df.filter(F.col("i") % 4 == 0).select(
        F.col("source").alias("node")
    )
    pr = personalized_pagerank(
        _source_edges(docs), seeds, damping=_PR_D, iters=_PR_ITERS
    )
    return pr.select(
        F.col("node").alias("source"), F.round("rank", 9).alias("rank")
    )


# --------------------------------------------------------------------------
# "Fightin' Words" log-odds with Dirichlet prior (Monroe et al. 2008):
# which terms distinguish the lang='en' slice from the rest. Counts
# are exact integers; delta rounds to 9 dp and z derives from the
# ROUNDED delta, so both engines agree bit-for-bit.
# --------------------------------------------------------------------------
_LO_A = 0.01


@register(
    "text_log_odds",
    sql=f"""
    WITH norm AS ({_NORM}),
    d2 AS (SELECT n.doc_id, CAST(d.lang = 'en' AS INT) AS a, n.t
           FROM norm n JOIN documents d USING (doc_id)),
    toks AS (SELECT a, unnest(string_split(t, ' ')) AS tok FROM d2),
    tk AS (SELECT a, tok FROM toks WHERE len(tok) > 0),
    counts AS (SELECT tok,
                      CAST(sum(a) AS BIGINT) AS count_a,
                      CAST(sum(1 - a) AS BIGINT) AS count_b
               FROM tk GROUP BY tok),
    g AS (SELECT CAST(sum(count_a) AS BIGINT) AS na,
                 CAST(sum(count_b) AS BIGINT) AS nb,
                 CAST(count(*) AS BIGINT) AS v
          FROM counts),
    d0 AS (SELECT c.tok, c.count_a, c.count_b,
                  round(ln((c.count_a + {_LO_A!r})
                           / (g.na + {_LO_A!r} * g.v - c.count_a - {_LO_A!r}))
                        - ln((c.count_b + {_LO_A!r})
                             / (g.nb + {_LO_A!r} * g.v - c.count_b - {_LO_A!r})),
                        9) AS delta
           FROM counts c, g)
    SELECT tok, count_a, count_b, delta,
           round(delta / sqrt(1.0 / (count_a + {_LO_A!r})
                              + 1.0 / (count_b + {_LO_A!r})), 9) AS z
    FROM d0
    """,
)
def text_log_odds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prior-smoothed log-odds of every vocabulary term, lang='en' vs
    the rest (deferred — pytest-mirrored)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.log_odds_terms(docs, F.col("lang") == "en", alpha=_LO_A)


# --------------------------------------------------------------------------
# MMR diversity re-ranking (Carbonell & Goldstein 1998): greedy pick of
# k results maximizing λ·rel − (1−λ)·max-sim-to-selected over the exact
# top-n candidate list. The oracle unrolls each greedy step as a
# LIMIT-1 CTE; candidate relevance and pair-sims round to 6 dp, MMR
# scores to 9 dp, ties break on vec_id — the engine's bounded-collect
# greedy reproduces every pick bit-for-bit.
# --------------------------------------------------------------------------
_MMR_QID, _MMR_K, _MMR_NC, _MMR_LAM = 3, 5, 20, 0.7


def _mmr_oracle_sql() -> str:
    one_minus = 1.0 - _MMR_LAM
    steps = [f"""
    p1 AS (SELECT vec_id, rel,
                  round({_MMR_LAM!r} * rel - {one_minus!r} * 0.0, 9) AS mmr
           FROM cand ORDER BY mmr DESC, vec_id LIMIT 1)"""]
    for i in range(2, _MMR_K + 1):
        picked = " UNION ALL ".join(
            f"SELECT vec_id FROM p{j}" for j in range(1, i)
        )
        steps.append(f"""
    p{i} AS (
        SELECT c.vec_id, c.rel,
               round({_MMR_LAM!r} * c.rel - {one_minus!r} * (
                   SELECT max(ps.c) FROM ps
                   WHERE ps.ia = c.vec_id AND ps.ib IN ({picked})
               ), 9) AS mmr
        FROM cand c
        WHERE c.vec_id NOT IN ({picked})
        ORDER BY mmr DESC, c.vec_id
        LIMIT 1)""")
    final = " UNION ALL ".join(
        f"SELECT CAST({i} AS INT) AS rk, vec_id, rel AS relevance, "
        f"mmr AS mmr_score FROM p{i}"
        for i in range(1, _MMR_K + 1)
    )
    return f"""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT v AS qv FROM emb WHERE vec_id = {_MMR_QID}),
    scored AS (
        SELECT e.vec_id, round({_COS.format(a="e.v", b="q.qv")}, 6) AS rel,
               row_number() OVER (
                   ORDER BY {_COS.format(a="e.v", b="q.qv")} DESC, e.vec_id
               ) AS rn
        FROM emb e, q WHERE e.vec_id <> {_MMR_QID}),
    cand AS (SELECT s.vec_id, s.rel, e.v
             FROM scored s JOIN emb e USING (vec_id) WHERE rn <= {_MMR_NC}),
    ps AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
                  round({_COS.format(a="a.v", b="b.v")}, 6) AS c
           FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
    {",".join(steps)}
    {final}
    """


@register("similarity_mmr", sql=_mmr_oracle_sql())
def similarity_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity rerank of the exact top-20 for one query vector
    (deferred — pytest-mirrored; the candidate kernel is the green
    similarity_topk row)."""
    return similarity.mmr_rerank(
        load_table(spark, sf_dir, "embeddings"),
        query_id=_MMR_QID,
        k=_MMR_K,
        n_candidates=_MMR_NC,
        lam=_MMR_LAM,
    )


# --------------------------------------------------------------------------
# Paragraph-level language profile (the CCNet granularity): the flat
# synthetic corpus is single-language, so the query derives a MIXED
# corpus deterministically first — doc_id % 3 picks a French or German
# marker paragraph to append — and every doc then exercises the
# chunk → per-paragraph LID → dominant-share arithmetic.
# --------------------------------------------------------------------------
_PLP_W = 12
_PLP_FR = "le chat et les chiens est le la des les et le"
_PLP_DE = "der hund und die katze ist nicht der und die der ist"


@register(
    "text_paragraph_langs",
    sql=f"""
    WITH base AS (
        SELECT doc_id,
               text || CASE WHEN doc_id % 3 = 0 THEN ' {_PLP_FR}'
                            WHEN doc_id % 3 = 1 THEN ' {_PLP_DE}'
                            ELSE '' END AS text
        FROM documents),
    norm AS (SELECT doc_id,
                    lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t0
             FROM base),
    words AS (SELECT doc_id, string_split(t0, ' ') AS w FROM norm),
    paras AS (
        SELECT doc_id,
               array_to_string(w[(p - 1) * {_PLP_W} + 1 : p * {_PLP_W}], ' ')
                   AS t
        FROM words,
             unnest(generate_series(
                 1, CAST(ceil(len(w) / {_PLP_W}.0) AS INT))) s(p)),
    scores AS (SELECT doc_id,
        {", ".join(f"{_sql_lang_score(lang)} AS score_{lang}" for lang in sorted(text.LANG_MARKERS))}
        FROM paras),
    pl AS (SELECT doc_id,
           CASE WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
                {"".join(f"WHEN score_{lang} = greatest(score_de, score_en, score_es, score_fr) THEN '{lang}' " for lang in sorted(text.LANG_MARKERS))}
                ELSE 'und' END AS plang
           FROM scores),
    cnt AS (SELECT doc_id, plang, CAST(count(*) AS BIGINT) AS c
            FROM pl GROUP BY doc_id, plang),
    agg AS (SELECT doc_id, plang, c,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY c DESC, plang) AS rn,
                   CAST(sum(c) OVER (PARTITION BY doc_id) AS BIGINT) AS nt,
                   CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS nl
            FROM cnt)
    SELECT doc_id, nt AS n_paragraphs, plang AS dominant_lang,
           round(c / CAST(nt AS DOUBLE), 6) AS dominant_frac,
           nl AS n_langs
    FROM agg WHERE rn = 1
    """,
)
def text_paragraph_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-paragraph LID rollup over a deterministically mixed corpus
    (deferred — pytest-mirrored; doc-level LID is the green
    text_language_id row)."""
    docs = load_table(spark, sf_dir, "documents")
    mixed = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(" " + _PLP_FR))
            .when(F.col("doc_id") % 3 == 1, F.lit(" " + _PLP_DE))
            .otherwise(F.lit("")),
        ),
    )
    return text.paragraph_language_profile(mixed, para_words=_PLP_W)


# --------------------------------------------------------------------------
# language segmentation: the split the paragraph profile routes to —
# contiguous same-language paragraph runs become segments (same mixed
# fixture as text_paragraph_langs).
# --------------------------------------------------------------------------
@register(
    "text_split_by_language",
    sql=f"""
    WITH base AS (
        SELECT doc_id,
               text || CASE WHEN doc_id % 3 = 0 THEN ' {_PLP_FR}'
                            WHEN doc_id % 3 = 1 THEN ' {_PLP_DE}'
                            ELSE '' END AS text
        FROM documents),
    norm AS (SELECT doc_id,
                    lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t0
             FROM base),
    words AS (SELECT doc_id, string_split(t0, ' ') AS w FROM norm),
    paras AS (
        SELECT doc_id, p AS pi,
               array_to_string(w[(p - 1) * {_PLP_W} + 1 : p * {_PLP_W}], ' ')
                   AS t
        FROM words,
             unnest(generate_series(
                 1, CAST(ceil(len(w) / {_PLP_W}.0) AS INT))) s(p)),
    scores AS (SELECT doc_id, pi, t,
        {", ".join(f"{_sql_lang_score(lang)} AS score_{lang}" for lang in sorted(text.LANG_MARKERS))}
        FROM paras),
    pl AS (SELECT doc_id, pi, t,
           CASE WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
                {"".join(f"WHEN score_{lang} = greatest(score_de, score_en, score_es, score_fr) THEN '{lang}' " for lang in sorted(text.LANG_MARKERS))}
                ELSE 'und' END AS plang
           FROM scores),
    runs AS (
        SELECT doc_id, pi, t, plang,
               CASE WHEN lag(plang) OVER (PARTITION BY doc_id ORDER BY pi)
                         IS DISTINCT FROM plang THEN 1 ELSE 0 END AS chg
        FROM pl),
    seg AS (
        SELECT doc_id, pi, t, plang,
               CAST(sum(chg) OVER (PARTITION BY doc_id ORDER BY pi
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS INT) AS run
        FROM runs)
    SELECT doc_id, run AS seg_id, min(plang) AS lang,
           CAST(count(*) AS BIGINT) AS n_paragraphs,
           string_agg(t, ' ' ORDER BY pi) AS seg_text
    FROM seg GROUP BY doc_id, run
    """,
)
def text_split_by_language(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous same-language segments of the mixed fixture corpus
    (deferred — pytest-mirrored)."""
    docs = load_table(spark, sf_dir, "documents")
    mixed = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(" " + _PLP_FR))
            .when(F.col("doc_id") % 3 == 1, F.lit(" " + _PLP_DE))
            .otherwise(F.lit("")),
        ),
    )
    return text.split_by_language(mixed, para_words=_PLP_W)


# --------------------------------------------------------------------------
# Declarative data-quality expectations (the Deequ family, Schelter et
# al. 2018): six constraints over orders in ONE scan + ONE aggregation,
# chosen so the fixture exercises both outcomes (o_custkey repeats,
# totalprice exceeds the range cap, status 'P' is outside the set).
# --------------------------------------------------------------------------
_EXP_RULES = [
    {"column": "o_custkey", "check": "not_null"},
    {"column": "o_orderkey", "check": "unique"},
    {"column": "o_custkey", "check": "unique"},
    {"column": "o_totalprice", "check": "range", "min": 0.0, "max": 250000.0},
    {"column": "o_orderstatus", "check": "in_set", "values": ["O", "F"]},
    {"column": "o_orderpriority", "check": "regex", "pattern": "^[0-9]-"},
]


@register(
    "quality_expectations",
    sql="""
    WITH a AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(coalesce(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS v0,
             CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT) AS v1,
             CAST(count(o_custkey) - count(DISTINCT o_custkey) AS BIGINT) AS v2,
             CAST(coalesce(sum(CASE WHEN o_totalprice < 0.0 OR o_totalprice > 250000.0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS v3,
             CAST(coalesce(sum(CASE WHEN NOT o_orderstatus IN ('O', 'F') THEN 1 ELSE 0 END), 0) AS BIGINT) AS v4,
             CAST(coalesce(sum(CASE WHEN NOT regexp_matches(o_orderpriority, '^[0-9]-') THEN 1 ELSE 0 END), 0) AS BIGINT) AS v5
      FROM orders)
    SELECT CAST(0 AS INT) AS rule_id, 'o_custkey' AS "column",
           'not_null' AS "check", v0 AS n_violations, n AS n_rows,
           v0 = 0 AS passed FROM a
    UNION ALL SELECT 1, 'o_orderkey', 'unique', v1, n, v1 = 0 FROM a
    UNION ALL SELECT 2, 'o_custkey', 'unique', v2, n, v2 = 0 FROM a
    UNION ALL SELECT 3, 'o_totalprice', 'range', v3, n, v3 = 0 FROM a
    UNION ALL SELECT 4, 'o_orderstatus', 'in_set', v4, n, v4 = 0 FROM a
    UNION ALL SELECT 5, 'o_orderpriority', 'regex', v5, n, v5 = 0 FROM a
    """,
)
def quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint-validation report over orders (deferred —
    pytest-mirrored)."""
    from ..operators.expect import check_expectations

    return check_expectations(
        load_table(spark, sf_dir, "orders"), _EXP_RULES
    )


# --------------------------------------------------------------------------
# query-TABLE MMR (the serving-batch shape): same greedy unroll as
# similarity_mmr but per query via window argmax instead of LIMIT 1.
# --------------------------------------------------------------------------
_MMRM_NQ, _MMRM_K, _MMRM_NC = 4, 4, 12


def _mmr_many_oracle_sql() -> str:
    lam, om = _MMR_LAM, 1.0 - _MMR_LAM
    steps = [f"""
    p1 AS (SELECT query_id, vec_id, rel, mmr FROM (
        SELECT query_id, vec_id, rel, mmr,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY mmr DESC, vec_id) AS r
        FROM (SELECT query_id, vec_id, rel,
                     round({lam!r} * rel - {om!r} * 0.0, 9) AS mmr
              FROM cand)) WHERE r = 1)"""]
    for i in range(2, _MMRM_K + 1):
        picked = " UNION ALL ".join(
            f"SELECT query_id, vec_id FROM p{j}" for j in range(1, i)
        )
        steps.append(f"""
    p{i} AS (SELECT query_id, vec_id, rel, mmr FROM (
        SELECT query_id, vec_id, rel, mmr,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY mmr DESC, vec_id) AS r
        FROM (
            SELECT c.query_id, c.vec_id, c.rel,
                   round({lam!r} * c.rel - {om!r} * (
                       SELECT max(p.cs) FROM ps p
                       WHERE p.query_id = c.query_id AND p.ia = c.vec_id
                         AND p.ib IN (SELECT vec_id FROM ({picked}) pk
                                      WHERE pk.query_id = c.query_id)
                   ), 9) AS mmr
            FROM cand c
            WHERE NOT EXISTS (SELECT 1 FROM ({picked}) pk2
                              WHERE pk2.query_id = c.query_id
                                AND pk2.vec_id = c.vec_id)))
        WHERE r = 1)""")
    final = " UNION ALL ".join(
        f"SELECT query_id, CAST({i} AS INT) AS rk, vec_id, "
        f"rel AS relevance, mmr AS mmr_score FROM p{i}"
        for i in range(1, _MMRM_K + 1)
    )
    return f"""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM emb
          WHERE vec_id < {_MMRM_NQ}),
    scored AS (
        SELECT q.query_id, e.vec_id,
               round({_COS.format(a="e.v", b="q.qv")}, 6) AS rel,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY {_COS.format(a="e.v", b="q.qv")} DESC, e.vec_id
               ) AS rn
        FROM emb e, q WHERE e.vec_id <> q.query_id),
    cand AS (SELECT s.query_id, s.vec_id, s.rel, e.v
             FROM scored s JOIN emb e USING (vec_id)
             WHERE rn <= {_MMRM_NC}),
    ps AS (SELECT a.query_id, a.vec_id AS ia, b.vec_id AS ib,
                  round({_COS.format(a="a.v", b="b.v")}, 6) AS cs
           FROM cand a JOIN cand b
             ON a.query_id = b.query_id AND a.vec_id <> b.vec_id),
    {",".join(steps)}
    {final}
    """


@register("similarity_mmr_many", sql=_mmr_many_oracle_sql())
def similarity_mmr_many(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched MMR rerank for a whole query set (deferred —
    pytest-mirrored; single-query greedy is similarity_mmr)."""
    return similarity.mmr_rerank_many(
        load_table(spark, sf_dir, "embeddings"),
        F.col("vec_id") < _MMRM_NQ,
        k=_MMRM_K,
        n_candidates=_MMRM_NC,
        lam=_MMR_LAM,
    )


# --------------------------------------------------------------------------
# pairwise distinct-overlap matrix by HLL inclusion-exclusion: the
# union sketch is the register-wise max (HLL's defining mergeability),
# so est(A∩B) = est(A) + est(B) − est(A∪B) with the corpus read once.
# Same bit-exact integer construction as sketch_hll_distinct.
# --------------------------------------------------------------------------
@register(
    "sketch_hll_overlap",
    sql=f"""
    WITH v AS (SELECT l_returnflag AS g, l_partkey AS val FROM lineitem),
    h AS (SELECT g,
                 CAST(('0x' || substr(md5('hll-v1:' || CAST(val AS VARCHAR)), 1, 15))
                      AS BIGINT) AS hh
          FROM v),
    r AS (SELECT g, hh % {_HLL_M} AS reg, hh // {_HLL_M} AS w FROM h),
    rho AS (SELECT g, reg,
                   CASE WHEN w = 0 THEN 53 ELSE 52 - length(bin(w)) + 1 END AS rho
            FROM r),
    mx AS (SELECT g, reg, max(rho) AS M FROM rho GROUP BY g, reg),
    allg AS (SELECT DISTINCT g FROM v),
    regs AS (SELECT g, CAST(s.r AS BIGINT) AS reg
             FROM allg, unnest(generate_series(0, {_HLL_M - 1})) s(r)),
    filled AS (SELECT regs.g, regs.reg, coalesce(mx.M, 0) AS M
               FROM regs LEFT JOIN mx ON mx.g = regs.g AND mx.reg = regs.reg),
    zs AS (SELECT g, sum(1::BIGINT << CAST(53 - M AS INT)) AS z
           FROM filled GROUP BY g),
    zu AS (SELECT a.g AS ga, b.g AS gb,
                  sum(1::BIGINT << CAST(53 - greatest(a.M, b.M) AS INT)) AS zu
           FROM filled a JOIN filled b ON a.reg = b.reg AND a.g < b.g
           GROUP BY a.g, b.g)
    SELECT zu.ga AS group_a, zu.gb AS group_b,
           round({_HLL_SCALE!r} / za.z, 3) AS est_a,
           round({_HLL_SCALE!r} / zb.z, 3) AS est_b,
           round({_HLL_SCALE!r} / zu.zu, 3) AS est_union,
           round(greatest(round({_HLL_SCALE!r} / za.z, 3)
                          + round({_HLL_SCALE!r} / zb.z, 3)
                          - round({_HLL_SCALE!r} / zu.zu, 3), 0.0),
                 3) AS est_overlap
    FROM zu
    JOIN zs za ON za.g = zu.ga
    JOIN zs zb ON zb.g = zu.gb
    """,
)
def sketch_hll_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-l_partkey overlap between return flags by sketch
    inclusion-exclusion (deferred — pytest-mirrored; the per-group
    estimator is the green sketch_hll_distinct row)."""
    from ..operators.sketches import hll_overlap

    return hll_overlap(
        load_table(spark, sf_dir, "lineitem"),
        group_col="l_returnflag",
        value_col="l_partkey",
        m=_HLL_M,
    )


# --------------------------------------------------------------------------
_CMSJ_W = 8192  # wider than the term sketch: the join bound is n_a*n_b/w


# join-size estimation by CMS inner product (Cormode & Muthukrishnan
# 2005 §4.2): |orders ⋈ lineitem on orderkey| estimated from two d·w
# sketches, the exact count alongside so the overestimate is a visible
# column. Pure integer arithmetic — bit-exact across engines.
# --------------------------------------------------------------------------
@register(
    "sketch_cms_join_size",
    sql=f"""
    WITH seeds AS (SELECT CAST(unnest(generate_series(0, {_CMS_D - 1})) AS INT) AS j),
    ca AS (SELECT j,
                  CAST(('0x' || substr(md5('{_CMS_SEED}-' || CAST(j AS VARCHAR) || ':' || CAST(o_orderkey AS VARCHAR)), 1, 15))
                       AS BIGINT) % {_CMSJ_W} AS bucket,
                  CAST(count(*) AS BIGINT) AS ca
           FROM orders, seeds GROUP BY 1, 2),
    cb AS (SELECT j,
                  CAST(('0x' || substr(md5('{_CMS_SEED}-' || CAST(j AS VARCHAR) || ':' || CAST(l_orderkey AS VARCHAR)), 1, 15))
                       AS BIGINT) % {_CMSJ_W} AS bucket,
                  CAST(count(*) AS BIGINT) AS cb
           FROM lineitem, seeds GROUP BY 1, 2),
    ip AS (SELECT ca.j, sum(ca.ca * cb.cb) AS ip
           FROM ca JOIN cb USING (j, bucket) GROUP BY ca.j),
    est AS (SELECT CAST(min(coalesce(ip.ip, 0)) AS BIGINT) AS est_join_size
            FROM seeds LEFT JOIN ip USING (j)),
    ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_join_size
           FROM orders JOIN lineitem ON l_orderkey = o_orderkey)
    SELECT est.est_join_size, ex.exact_join_size FROM est, ex
    """,
)
def sketch_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight join cardinality: CMS inner product vs the exact
    join count (deferred — pytest-mirrored; the sketch build/probe is
    the green sketch_cms_term_counts row)."""
    from ..operators.sketches import cms_join_size, cms_table

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ca = cms_table(orders, "o_orderkey", w=_CMSJ_W, d=_CMS_D, seed=_CMS_SEED)
    cb = cms_table(li, "l_orderkey", w=_CMSJ_W, d=_CMS_D, seed=_CMS_SEED)
    est = cms_join_size(ca, cb, d=_CMS_D)
    exact = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .agg(F.count(F.lit(1)).alias("exact_join_size"))
    )
    return est.crossJoin(F.broadcast(exact))


# --------------------------------------------------------------------------
# UniMax budget allocation (Chung et al. 2023): uniform-as-possible
# source budgets under a per-source epoch cap — closed-form
# waterfilling by prefix sums, no iteration, identical windows in SQL.
# --------------------------------------------------------------------------
_UNIMAX_B, _UNIMAX_E = 48_000, 2.0


@register(
    "text_mix_unimax",
    sql=f"""
    WITH norm AS ({_NORM}),
    tok AS (SELECT n.doc_id, d.source,
                   CAST(len(string_split(n.t, ' ')) AS BIGINT) AS nt
            FROM norm n JOIN documents d USING (doc_id)),
    totals AS (SELECT source, CAST(sum(nt) AS BIGINT) AS n_tokens
               FROM tok GROUP BY source),
    caps AS (SELECT source, n_tokens,
                    CAST(round(n_tokens * {_UNIMAX_E!r}) AS BIGINT)
                        AS cap_tokens
             FROM totals),
    ord AS (SELECT *,
                   row_number() OVER (ORDER BY cap_tokens, source) AS j,
                   CAST(coalesce(sum(cap_tokens) OVER (
                       ORDER BY cap_tokens, source
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS prefix,
                   count(*) OVER () AS m
            FROM caps),
    sat AS (SELECT *,
                   (prefix + cap_tokens * (m - j + 1)) <= {_UNIMAX_B}
                       AS saturated
            FROM ord),
    lvl AS (SELECT *,
                   CAST(coalesce(sum(CASE WHEN saturated THEN cap_tokens END)
                                 OVER (), 0) AS BIGINT) AS sat_cap,
                   sum(CASE WHEN saturated THEN 0 ELSE 1 END) OVER ()
                       AS n_unsat
            FROM sat)
    SELECT source, n_tokens, cap_tokens,
           CASE WHEN saturated THEN cap_tokens::DOUBLE
                ELSE round(({_UNIMAX_B} - sat_cap)
                           / (CASE WHEN n_unsat > 0 THEN n_unsat ELSE 1 END),
                           4)
           END AS alloc_tokens,
           round((CASE WHEN saturated THEN cap_tokens::DOUBLE
                       ELSE round(({_UNIMAX_B} - sat_cap)
                                  / (CASE WHEN n_unsat > 0 THEN n_unsat
                                          ELSE 1 END), 4)
                  END) / n_tokens, 6) AS epochs,
           saturated
    FROM lvl
    """,
)
def text_mix_unimax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax source allocation — waterfill the token budget uniformly
    under a 2-epoch cap (deferred — pytest-mirrored; the draw that
    materializes an allocation is the green text_mix_budget row)."""
    return text.unimax_allocation(
        load_table(spark, sf_dir, "documents"),
        total_tokens=_UNIMAX_B,
        max_epochs=_UNIMAX_E,
    )


# --------------------------------------------------------------------------
# privacy auditing (Sweeney 2002; Machanavajjhala et al. 2007): formal
# re-identification screens as single hash aggregations — the release
# gate a curated corpus with structured sidecars needs.
# --------------------------------------------------------------------------
_PRIV_K = 10


@register(
    "privacy_k_anonymity",
    sql=f"""
    SELECT c_nationkey, c_mktsegment,
           CAST(count(*) AS BIGINT) AS group_size
    FROM customer GROUP BY 1, 2 HAVING count(*) < {_PRIV_K}
    """,
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quasi-identifier groups smaller than k=10 on the customer
    sidecar (deferred — pytest-mirrored; one hash agg + HAVING)."""
    from ..operators.privacy import k_anonymity_violations

    return k_anonymity_violations(
        load_table(spark, sf_dir, "customer"),
        ["c_nationkey", "c_mktsegment"],
        k=_PRIV_K,
    )


@register(
    "privacy_l_diversity",
    sql=f"""
    WITH q AS (
        SELECT c_nationkey,
               CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
               c_mktsegment
        FROM customer)
    SELECT c_nationkey, bal_band,
           CAST(count(*) AS BIGINT) AS group_size,
           CAST(count(DISTINCT c_mktsegment)
                + max(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_sensitive
    FROM q GROUP BY 1, 2
    HAVING count(DISTINCT c_mktsegment)
           + max(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) < 2
    """,
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quasi-groups whose sensitive attribute (market segment) is not
    even 2-diverse (deferred — pytest-mirrored). The quasi tuple bands
    the account balance to exercise a derived quasi-identifier."""
    from ..operators.privacy import l_diversity_violations

    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_band"),
        "c_mktsegment",
    )
    return l_diversity_violations(
        cust, ["c_nationkey", "bal_band"], "c_mktsegment", l=2
    )


@register(
    "privacy_risk",
    sql=f"""
    WITH g AS (
        SELECT count(*) AS gs
        FROM customer
        GROUP BY c_nationkey, c_mktsegment, floor(c_acctbal / 1000.0))
    SELECT CAST(sum(gs) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(coalesce(sum(CASE WHEN gs = 1 THEN 1 END), 0) AS BIGINT)
               AS n_unique_rows,
           CAST(coalesce(sum(CASE WHEN gs < {_PRIV_K} THEN gs END), 0)
                AS BIGINT) AS n_rows_at_risk,
           round(coalesce(sum(CASE WHEN gs < {_PRIV_K} THEN gs END), 0)
                 / sum(gs), 6) AS at_risk_frac,
           CAST({_PRIV_K} AS INT) AS k
    FROM g
    """,
)
def privacy_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row re-identification exposure report over the banded
    customer quasi-tuple (deferred — pytest-mirrored)."""
    from ..operators.privacy import reidentification_risk

    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_band"),
        "c_mktsegment",
    )
    return reidentification_risk(
        cust, ["c_nationkey", "bal_band", "c_mktsegment"], k=_PRIV_K
    )


# --------------------------------------------------------------------------
# UniMax end-to-end: allocation epochs -> fractional-epoch training
# multiset. The oracle composes the waterfilling CTEs with the
# epoch-expand hash-draw arithmetic, joined on source — drift in
# either kernel breaks this row too.
# --------------------------------------------------------------------------
@register(
    "text_mix_unimax_draw",
    sql=f"""
    WITH norm AS ({_NORM}),
    tok AS (SELECT n.doc_id, d.source,
                   CAST(len(string_split(n.t, ' ')) AS BIGINT) AS nt
            FROM norm n JOIN documents d USING (doc_id)),
    totals AS (SELECT source, CAST(sum(nt) AS BIGINT) AS n_tokens
               FROM tok GROUP BY source),
    caps AS (SELECT source, n_tokens,
                    CAST(round(n_tokens * {_UNIMAX_E!r}) AS BIGINT)
                        AS cap_tokens
             FROM totals),
    ord AS (SELECT *,
                   row_number() OVER (ORDER BY cap_tokens, source) AS j,
                   CAST(coalesce(sum(cap_tokens) OVER (
                       ORDER BY cap_tokens, source
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS prefix,
                   count(*) OVER () AS m
            FROM caps),
    sat AS (SELECT *,
                   (prefix + cap_tokens * (m - j + 1)) <= {_UNIMAX_B}
                       AS saturated
            FROM ord),
    lvl AS (SELECT *,
                   CAST(coalesce(sum(CASE WHEN saturated THEN cap_tokens END)
                                 OVER (), 0) AS BIGINT) AS sat_cap,
                   sum(CASE WHEN saturated THEN 0 ELSE 1 END) OVER ()
                       AS n_unsat
            FROM sat),
    eps AS (SELECT source,
                   round((CASE WHEN saturated THEN cap_tokens::DOUBLE
                               ELSE round(({_UNIMAX_B} - sat_cap)
                                          / (CASE WHEN n_unsat > 0
                                                  THEN n_unsat ELSE 1 END),
                                          4)
                          END) / n_tokens, 6) AS ep
            FROM lvl),
    d AS (
        SELECT doc_id, d.source,
               CAST(floor(ep) + CASE WHEN
                   CAST(('0x' || substr(md5('{_EPOCH_SEED}:'
                        || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   / 4294967296.0 < ep - floor(ep)
                   THEN 1 ELSE 0 END AS INT) AS n
        FROM documents d JOIN eps ON eps.source = d.source)
    SELECT doc_id, source, CAST(i AS INT) AS copy_idx
    FROM d, unnest(generate_series(0, n - 1)) s(i)
    WHERE n > 0
    """,
)
def text_mix_unimax_draw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax end-to-end: waterfilled epoch factors materialized as the
    deterministic training multiset (deferred — pytest-mirrored; the
    allocation and the expand kernels are separately oracle-paired)."""
    return text.unimax_draw(
        load_table(spark, sf_dir, "documents"),
        total_tokens=_UNIMAX_B,
        max_epochs=_UNIMAX_E,
        seed=_EPOCH_SEED,
    )


# --------------------------------------------------------------------------
# t-closeness (Li et al. 2007): quasi-groups whose ordered sensitive
# distribution drifts > t from the global one, by exact-integer EMD —
# the third classic screen (k bounds group size, l bounds value count,
# t bounds the DISTRIBUTION skew a compliant group can still leak).
# --------------------------------------------------------------------------
_TCLOSE_T = 0.12


@register(
    "privacy_t_closeness",
    sql=f"""
    WITH vals AS (SELECT c_nationkey, c_mktsegment,
                  CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS bal_band
                  FROM customer WHERE c_acctbal IS NOT NULL),
    gv AS (SELECT c_nationkey, c_mktsegment, bal_band,
                  CAST(count(*) AS BIGINT) AS c
           FROM vals GROUP BY 1, 2, 3),
    support AS (SELECT bal_band, CAST(count(*) AS BIGINT) AS cp
                FROM vals GROUP BY 1),
    groups AS (SELECT c_nationkey, c_mktsegment,
                      CAST(sum(c) AS BIGINT) AS group_size
               FROM gv GROUP BY 1, 2),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM vals),
    vs AS (SELECT CAST(count(*) AS BIGINT) AS v FROM support),
    grid AS (SELECT g.*, s.bal_band, s.cp FROM groups g CROSS JOIN support s),
    cells AS (SELECT grid.*, coalesce(gv.c, 0) AS c
              FROM grid LEFT JOIN gv
              USING (c_nationkey, c_mktsegment, bal_band)),
    cum AS (SELECT c_nationkey, c_mktsegment, group_size,
                   CAST(sum(c) OVER w AS BIGINT) AS cum_g,
                   CAST(sum(cp) OVER w AS BIGINT) AS cum_p
            FROM cells
            WINDOW w AS (PARTITION BY c_nationkey, c_mktsegment
                         ORDER BY bal_band
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW)),
    emd AS (SELECT c_nationkey, c_mktsegment, group_size,
                   round(sum(abs(cum_g * tot.n - cum_p * group_size))
                         / (group_size::DOUBLE * tot.n * (vs.v - 1)), 9)
                       AS emd
            FROM cum, tot, vs
            GROUP BY c_nationkey, c_mktsegment, group_size, tot.n, vs.v)
    SELECT c_nationkey, c_mktsegment, group_size, emd
    FROM emd WHERE emd > {_TCLOSE_T!r}
    """,
)
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quasi-groups whose banded-balance distribution drifts > t from
    the table-wide one (deferred — pytest-mirrored). Exact-integer EMD
    numerators, one division at the end — bit-exact across engines."""
    from ..operators.privacy import t_closeness_violations

    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 2000.0).cast("long").alias("bal_band"),
    )
    return t_closeness_violations(
        cust, ["c_nationkey", "c_mktsegment"], "bal_band", t=_TCLOSE_T
    )


# --------------------------------------------------------------------------
# skew pre-flight: the hottest keys + the imbalance / salt-factor
# figures that pick the physical strategy (broadcast / AQE / salting)
# BEFORE the shuffle runs. Exact counts; ratios rounded once.
# --------------------------------------------------------------------------
@register(
    "skew_report_events",
    sql="""
    WITH counts AS (SELECT event_type, CAST(count(*) AS BIGINT) AS cnt
                    FROM events GROUP BY 1),
    stats AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
                     CAST(count(*) AS BIGINT) AS n_keys,
                     CAST(max(cnt) AS BIGINT) AS mc
              FROM counts),
    top AS (SELECT * FROM counts ORDER BY cnt DESC, event_type LIMIT 10)
    SELECT event_type, cnt,
           round(cnt / s.n_rows, 6) AS share,
           CAST(row_number() OVER (ORDER BY cnt DESC, event_type) AS INT)
               AS rank,
           s.n_rows, s.n_keys,
           round(s.mc * s.n_keys / s.n_rows, 4) AS imbalance,
           CAST(greatest(1, ceil(s.mc * 32 / s.n_rows)) AS BIGINT)
               AS recommended_salts
    FROM top, stats s
    """,
)
def skew_report_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key diagnostic over the events stream's type column
    (deferred — pytest-mirrored; the salting consumers are the green
    skew_safe_agg / skew_salted_join rows)."""
    from ..operators.util import skew_report

    return skew_report(
        load_table(spark, sf_dir, "events"), ["event_type"],
        top_k=10, n_partitions=32,
    )


# --------------------------------------------------------------------------
# quasi-identifier discovery: every column-subset's re-identification
# exposure in ONE cube pass (2^m grouping sets, one shuffle) — the
# "which columns must I generalize" step before repair. Subsets are
# labeled via grouping(col), which is engine-portable (grouping_id bit
# order is not).
# --------------------------------------------------------------------------
@register(
    "privacy_quasi_subsets",
    sql=f"""
    WITH q AS (
        SELECT c_nationkey,
               CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
               c_mktsegment
        FROM customer),
    sizes AS (
        SELECT concat_ws(',',
                   CASE WHEN grouping(c_nationkey) = 0
                        THEN 'c_nationkey' END,
                   CASE WHEN grouping(bal_band) = 0 THEN 'bal_band' END,
                   CASE WHEN grouping(c_mktsegment) = 0
                        THEN 'c_mktsegment' END) AS quasi_set,
               CAST((1 - grouping(c_nationkey)) + (1 - grouping(bal_band))
                    + (1 - grouping(c_mktsegment)) AS INT) AS n_quasi_cols,
               count(*) AS gs
        FROM q
        GROUP BY CUBE (c_nationkey, bal_band, c_mktsegment))
    SELECT quasi_set, n_quasi_cols,
           CAST(sum(gs) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(coalesce(sum(CASE WHEN gs = 1 THEN 1 END), 0) AS BIGINT)
               AS n_unique_rows,
           CAST(coalesce(sum(CASE WHEN gs < {_PRIV_K} THEN gs END), 0)
                AS BIGINT) AS n_rows_at_risk,
           round(coalesce(sum(CASE WHEN gs < {_PRIV_K} THEN gs END), 0)
                 / sum(gs), 6) AS at_risk_frac
    FROM sizes WHERE n_quasi_cols > 0
    GROUP BY quasi_set, n_quasi_cols
    """,
)
def privacy_quasi_subsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exposure of all 7 non-empty subsets of the banded customer
    quasi-candidates, one cube pass (deferred — pytest-mirrored)."""
    from ..operators.privacy import quasi_risk_by_subset

    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_band"),
        "c_mktsegment",
    )
    return quasi_risk_by_subset(
        cust, ["c_nationkey", "bal_band", "c_mktsegment"], k=_PRIV_K
    )


# --------------------------------------------------------------------------
# Incremental table maintenance (operators/maintenance.py): the merge
# family a 100 TB pipeline runs between ingest and training — MERGE
# upsert (union + one max_by hash agg, never a full-outer join of two
# big sides), CDC latest-wins changelog application, SCD2 dimension
# history, snapshot diff, and the small-file compaction planner. Each
# derives a deterministic update batch from the driver tables so the
# oracle restates the exact semantics in ANSI SQL.
# --------------------------------------------------------------------------
@register(
    "table_merge_upsert",
    sql="""
    WITH base AS (SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal,
                         c_mktsegment
                  FROM customer),
    upd AS (
        SELECT c_custkey, c_name, round(acctbal + 100, 2) AS acctbal,
               'UPDATED' AS c_mktsegment, FALSE AS del
        FROM base WHERE c_custkey % 7 = 0 AND c_custkey % 13 <> 0
        UNION ALL
        SELECT c_custkey, NULL, NULL, NULL, TRUE
        FROM base WHERE c_custkey % 13 = 0
        UNION ALL
        SELECT c_custkey + 1000000, 'NEW', 0.0, 'NEW', FALSE
        FROM base WHERE c_custkey % 97 = 0
    )
    SELECT b.c_custkey, b.c_name, b.acctbal, b.c_mktsegment
    FROM base b WHERE b.c_custkey NOT IN (SELECT c_custkey FROM upd)
    UNION ALL
    SELECT c_custkey, c_name, acctbal, c_mktsegment FROM upd WHERE NOT del
    """,
)
def table_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO over the customer table: %7 keys updated (whole-row),
    %13 keys deleted, %97 keys re-inserted under new ids (deferred —
    pytest-mirrored). One union + max_by hash aggregation — no join."""
    from ..operators.maintenance import merge_upsert

    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        F.round("c_acctbal", 2).alias("acctbal"),
        "c_mktsegment",
    )
    k = F.col("c_custkey")
    upd = (
        base.filter((k % 7 == 0) & (k % 13 != 0)).select(
            k.alias("c_custkey"),
            "c_name",
            F.round(F.col("acctbal") + 100, 2).alias("acctbal"),
            F.lit("UPDATED").alias("c_mktsegment"),
            F.lit(False).alias("del"),
        )
        .unionByName(
            base.filter(k % 13 == 0).select(
                k.alias("c_custkey"),
                F.lit(None).cast("string").alias("c_name"),
                F.lit(None).cast("double").alias("acctbal"),
                F.lit(None).cast("string").alias("c_mktsegment"),
                F.lit(True).alias("del"),
            )
        )
        .unionByName(
            base.filter(k % 97 == 0).select(
                (k + 1000000).alias("c_custkey"),
                F.lit("NEW").alias("c_name"),
                F.lit(0.0).alias("acctbal"),
                F.lit("NEW").alias("c_mktsegment"),
                F.lit(False).alias("del"),
            )
        )
    )
    return merge_upsert(base, upd, ["c_custkey"], delete_col="del")


@register(
    "table_apply_changelog",
    sql="""
    WITH snap AS (SELECT o_orderkey, o_orderstatus,
                         round(o_totalprice, 2) AS price
                  FROM orders),
    ch AS (
        SELECT o_orderkey, o_orderstatus, round(price + 1, 2) AS price,
               1 AS seq, 'U' AS op
        FROM snap WHERE o_orderkey % 4 = 0
        UNION ALL
        SELECT o_orderkey, NULL, NULL, 2, 'D'
        FROM snap WHERE o_orderkey % 8 = 0
        UNION ALL
        SELECT o_orderkey, 'R', 0.0, 3, 'I'
        FROM snap WHERE o_orderkey % 16 = 0
    ),
    latest AS (
        SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                     ORDER BY seq DESC) AS rn
        FROM ch
    ),
    fin AS (SELECT o_orderkey, o_orderstatus, price, op
            FROM latest WHERE rn = 1)
    SELECT s.o_orderkey, s.o_orderstatus, s.price
    FROM snap s WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM fin)
    UNION ALL
    SELECT o_orderkey, o_orderstatus, price FROM fin WHERE op <> 'D'
    """,
)
def table_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC latest-wins fold over orders: %4 keys updated at seq 1, %8
    deleted at seq 2, %16 re-inserted at seq 3 — so the fold, not the
    row order, decides each key's fate (deferred — pytest-mirrored)."""
    from ..operators.maintenance import apply_changelog

    snap = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("price"),
    )
    k = F.col("o_orderkey")
    ch = (
        snap.filter(k % 4 == 0).select(
            "o_orderkey",
            "o_orderstatus",
            F.round(F.col("price") + 1, 2).alias("price"),
            F.lit(1).cast("long").alias("seq"),
            F.lit("U").alias("op"),
        )
        .unionByName(
            snap.filter(k % 8 == 0).select(
                "o_orderkey",
                F.lit(None).cast("string").alias("o_orderstatus"),
                F.lit(None).cast("double").alias("price"),
                F.lit(2).cast("long").alias("seq"),
                F.lit("D").alias("op"),
            )
        )
        .unionByName(
            snap.filter(k % 16 == 0).select(
                "o_orderkey",
                F.lit("R").alias("o_orderstatus"),
                F.lit(0.0).alias("price"),
                F.lit(3).cast("long").alias("seq"),
                F.lit("I").alias("op"),
            )
        )
    )
    return apply_changelog(snap, ch, ["o_orderkey"], seq_col="seq", op_col="op")


@register(
    "table_scd2",
    sql="""
    WITH cur AS (SELECT c_custkey, c_mktsegment AS seg,
                        CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band
                 FROM customer),
    upd AS (
        SELECT c_custkey, 'MOVED' AS seg, bal_band,
               CAST(100 AS BIGINT) AS eff
        FROM cur WHERE c_custkey % 3 = 0
        UNION ALL
        SELECT c_custkey + 1000000, 'NEW', CAST(0 AS BIGINT),
               CAST(100 AS BIGINT)
        FROM cur WHERE c_custkey % 89 = 0
    ),
    closed AS (
        SELECT c.c_custkey, c.seg, c.bal_band,
               CAST(0 AS BIGINT) AS valid_from,
               CASE WHEN u.c_custkey IS NOT NULL
                         AND (u.seg IS DISTINCT FROM c.seg
                              OR u.bal_band IS DISTINCT FROM c.bal_band)
                    THEN u.eff END AS valid_to,
               NOT (u.c_custkey IS NOT NULL
                    AND (u.seg IS DISTINCT FROM c.seg
                         OR u.bal_band IS DISTINCT FROM c.bal_band))
                   AS is_current
        FROM cur c LEFT JOIN upd u ON c.c_custkey = u.c_custkey
    ),
    opens AS (
        SELECT u.c_custkey, u.seg, u.bal_band, u.eff AS valid_from,
               CAST(NULL AS BIGINT) AS valid_to, TRUE AS is_current
        FROM upd u LEFT JOIN cur c ON u.c_custkey = c.c_custkey
        WHERE c.c_custkey IS NULL
              OR u.seg IS DISTINCT FROM c.seg
              OR u.bal_band IS DISTINCT FROM c.bal_band
    )
    SELECT * FROM closed UNION ALL SELECT * FROM opens
    """,
)
def table_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 over a customer dimension snapshot: %3 keys move segment
    (current row closed at effective=100, new open version appended),
    %89 keys appear as brand-new members (deferred — pytest-mirrored).
    History bypasses the join; only the current slice meets the batch."""
    from ..operators.maintenance import scd2_apply

    cur = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_band"),
    )
    dim = cur.select(
        "c_custkey",
        "seg",
        "bal_band",
        F.lit(0).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    k = F.col("c_custkey")
    upd = cur.filter(k % 3 == 0).select(
        "c_custkey",
        F.lit("MOVED").alias("seg"),
        "bal_band",
        F.lit(100).cast("long").alias("eff"),
    ).unionByName(
        cur.filter(k % 89 == 0).select(
            (k + 1000000).alias("c_custkey"),
            F.lit("NEW").alias("seg"),
            F.lit(0).cast("long").alias("bal_band"),
            F.lit(100).cast("long").alias("eff"),
        )
    )
    return scd2_apply(
        dim, upd, ["c_custkey"], ["seg", "bal_band"], effective_col="eff"
    )


@register(
    "table_snapshot_diff",
    sql="""
    SELECT c_custkey, 'deleted' AS change_type
    FROM customer WHERE c_custkey % 17 = 0
    UNION ALL
    SELECT c_custkey, 'changed'
    FROM customer
    WHERE c_custkey % 5 = 0 AND c_custkey % 17 <> 0
          AND c_acctbal IS NOT NULL
    UNION ALL
    SELECT c_custkey + 2000000, 'added'
    FROM customer WHERE c_custkey % 23 = 0
    """,
)
def table_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """added/deleted/changed churn between a customer snapshot and its
    mutated successor (%17 dropped, %5 balance-changed, %23 cloned
    under new ids) — one full-outer key join with null-safe attr
    compares; unchanged keys are omitted (deferred — pytest-mirrored).
    The oracle restates the diff from the mutation rules directly."""
    from ..operators.maintenance import snapshot_diff

    old = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    k = F.col("c_custkey")
    new = (
        old.filter(k % 17 != 0)
        .withColumn(
            "c_acctbal",
            F.when(k % 5 == 0, F.col("c_acctbal") + 50).otherwise(
                F.col("c_acctbal")
            ),
        )
        .unionByName(
            old.filter(k % 23 == 0).select(
                (k + 2000000).alias("c_custkey"),
                F.lit("NEWC").alias("c_name"),
                F.lit(1.0).alias("c_acctbal"),
                F.lit("NEW").alias("c_mktsegment"),
            )
        )
    )
    return snapshot_diff(old, new, ["c_custkey"])


@register(
    "table_compaction_plan",
    sql="""
    WITH files AS (
        SELECT l_returnflag AS part,
               'part-' || lpad(CAST(l_linenumber * 10 + l_partkey % 10
                                    AS VARCHAR), 3, '0') AS file_name,
               CAST(sum(l_quantity) AS BIGINT) % 9000 + 1000 AS bytes
        FROM lineitem GROUP BY 1, 2),
    binned AS (
        SELECT part, file_name, bytes,
               CAST(floor((sum(bytes) OVER w - bytes) / 20000.0) AS BIGINT)
                   AS compaction_group
        FROM files
        WINDOW w AS (PARTITION BY part ORDER BY file_name
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    grp AS (
        SELECT *, CAST(sum(bytes) OVER g AS BIGINT) AS group_bytes,
               CAST(count(*) OVER g AS BIGINT) AS group_files
        FROM binned
        WINDOW g AS (PARTITION BY part, compaction_group))
    SELECT part, file_name, bytes, compaction_group, group_bytes,
           group_files
    FROM grp WHERE group_files > 1
    """,
)
def table_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file rewrite plan over a synthetic per-partition file
    listing derived from lineitem (exact-integer byte sizes, so the
    prefix-sum binning is bit-identical cross-engine); singleton groups
    are dropped — rewriting one file merges nothing (deferred —
    pytest-mirrored). The stats table is metadata-sized: windows run
    over file counts, never data rows."""
    from ..operators.maintenance import compaction_plan

    li = load_table(spark, sf_dir, "lineitem")
    files = li.groupBy(
        F.col("l_returnflag").alias("part"),
        F.concat(
            F.lit("part-"),
            F.lpad(
                (F.col("l_linenumber") * 10 + F.col("l_partkey") % 10).cast(
                    "string"
                ),
                3,
                "0",
            ),
        ).alias("file_name"),
    ).agg(
        (F.sum("l_quantity").cast("long") % 9000 + 1000).alias("bytes")
    )
    return compaction_plan(
        files, ["part"], target_bytes=20000, small_threshold=None
    )


# --------------------------------------------------------------------------
# Retrieval-quality evaluation (operators/ranking.py): the standard IR
# metrics — precision@k / recall@k / MRR / AP / nDCG (Järvelin &
# Kekäläinen 2002) — grading the multi-probe LSH run against graded
# ground truth derived from the EXACT top-20 (grade 2 for true top-5,
# grade 1 for 6-20). Both inputs are evaluation-sized (queries × k);
# the corpus is never touched by the metric computation itself.
# --------------------------------------------------------------------------
def _register_ranking_eval() -> None:
    approx_sql = _ORACLE["similarity_topk_lsh_multiprobe"]
    qrels_sql = f"""
        SELECT query_id, neighbor_id AS doc_id,
               CASE WHEN rk <= {_TOPK_K} THEN 2 ELSE 1 END AS rel
        FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY s DESC, neighbor_id) AS rk
            FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       {_COS.format(a="q.v", b="c.v")} AS s
                FROM (SELECT vec_id, embedding::DOUBLE[] AS v
                      FROM embeddings WHERE vec_id < {_N_QUERIES}) q,
                     (SELECT vec_id, embedding::DOUBLE[] AS v
                      FROM embeddings) c
                WHERE q.vec_id <> c.vec_id))
        WHERE rk <= 20
    """
    metrics_sql = f"""
    WITH hits AS (SELECT query_id, neighbor_id AS doc_id, rk AS rank
                  FROM ({approx_sql})),
    qrels AS ({qrels_sql}),
    jh AS (
        SELECT h.query_id, h.rank, coalesce(r.rel, 0) AS rel
        FROM hits h LEFT JOIN qrels r
          ON h.query_id = r.query_id AND h.doc_id = r.doc_id
        WHERE h.rank <= {_TOPK_K}),
    cum AS (
        SELECT *, sum(CASE WHEN rel >= 1 THEN 1 ELSE 0 END)
                      OVER (PARTITION BY query_id ORDER BY rank
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum_rel
        FROM jh),
    run AS (
        SELECT query_id, CAST(count(*) AS BIGINT) AS n_hits,
               CAST(sum(CASE WHEN rel >= 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_rel_hit,
               min(CASE WHEN rel >= 1 THEN rank END) AS first_rel_rank,
               sum(CASE WHEN rel >= 1
                        THEN cum_rel / CAST(rank AS DOUBLE) END) AS ap_num,
               sum(CASE WHEN rel >= 1
                        THEN (power(2, rel) - 1) / log2(rank + 1) END)
                   AS dcg
        FROM cum GROUP BY query_id),
    ideal AS (
        SELECT query_id,
               sum((power(2, rel) - 1) / log2(irank + 1)) AS idcg
        FROM (SELECT query_id, rel,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY rel DESC, doc_id)
                         AS irank
              FROM qrels)
        WHERE irank <= {_TOPK_K} GROUP BY query_id),
    judged AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
               FROM qrels GROUP BY query_id)
    SELECT j.query_id, j.n_rel,
           CAST(coalesce(run.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(coalesce(run.n_rel_hit, 0) AS BIGINT) AS n_rel_hit,
           round(coalesce(run.n_rel_hit, 0) / {float(_TOPK_K)}, 6)
               AS precision_k,
           round(coalesce(run.n_rel_hit, 0) / j.n_rel, 6) AS recall_k,
           round(coalesce(1.0 / run.first_rel_rank, 0.0), 6) AS rr,
           round(coalesce(run.ap_num, 0.0)
                 / CAST(least(j.n_rel, {_TOPK_K}) AS DOUBLE), 6) AS ap_k,
           round(coalesce(run.dcg, 0.0) / ideal.idcg, 6) AS ndcg_k
    FROM judged j
    JOIN ideal ON ideal.query_id = j.query_id
    LEFT JOIN run ON run.query_id = j.query_id
    """
    register("ranking_eval", sql=metrics_sql)(_ranking_eval)
    register(
        "ranking_eval_summary",
        sql=f"""
        SELECT CAST(count(*) AS BIGINT) AS n_queries,
               round(avg(precision_k), 6) AS mean_precision_k,
               round(avg(recall_k), 6) AS mean_recall_k,
               round(avg(rr), 6) AS mrr,
               round(avg(ap_k), 6) AS map_k,
               round(avg(ndcg_k), 6) AS mean_ndcg_k
        FROM ({metrics_sql})
        """,
    )(_ranking_eval_summary)


def _ranking_hits_qrels(spark: SparkSession, sf_dir: str):
    emb = load_table(spark, sf_dir, "embeddings")
    hits = similarity.topk_lsh_multiprobe(
        emb, F.col("vec_id") < _N_QUERIES, k=_TOPK_K,
        n_planes=_LSH_PLANES, n_probe=_LSH_NPROBE,
    ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rk")
    qrels = similarity.topk_bruteforce(
        emb, F.col("vec_id") < _N_QUERIES, k=20
    ).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.when(F.col("rk") <= _TOPK_K, 2).otherwise(1).alias("rel"),
    )
    return hits, qrels


def _ranking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query IR metrics of the multi-probe LSH run against exact
    graded truth (deferred — pytest-mirrored). A real ANN-quality
    statement: nDCG/AP say what the raw recall row cannot — whether the
    misses were the HIGH-GAIN neighbors."""
    from ..operators.ranking import ranking_metrics

    hits, qrels = _ranking_hits_qrels(spark, sf_dir)
    return ranking_metrics(
        hits, qrels, k=_TOPK_K, doc_col="doc_id", rank_col="rk"
    )


def _ranking_eval_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Macro-averaged one-row eval report over the same run (deferred —
    pytest-mirrored)."""
    from ..operators.ranking import ranking_metrics, ranking_summary

    hits, qrels = _ranking_hits_qrels(spark, sf_dir)
    return ranking_summary(
        ranking_metrics(hits, qrels, k=_TOPK_K, doc_col="doc_id",
                        rank_col="rk")
    )


_register_ranking_eval()


# --------------------------------------------------------------------------
# Distribution-drift monitoring (operators/drift.py): PSI over frozen
# reference bins, exact-integer two-sample KS, chi-square categorical
# drift. Each reduces both snapshots to aggregate-bounded tables (bins /
# distinct values / categories) before any cross-side arithmetic. The
# "current" snapshot is a deterministic mutation of the same driver
# table so the oracle restates the statistic from first principles.
# --------------------------------------------------------------------------
@register(
    "drift_psi",
    sql="""
    WITH r AS (SELECT c_acctbal::DOUBLE AS x FROM customer
               WHERE c_acctbal IS NOT NULL),
    c AS (SELECT (c_acctbal + CASE WHEN c_custkey % 3 = 0
                                   THEN 2000 ELSE 0 END)::DOUBLE AS x
          FROM customer WHERE c_acctbal IS NOT NULL),
    b AS (SELECT min(x) AS mn, max(x) AS mx FROM r),
    rb AS (SELECT CASE WHEN b.mx = b.mn THEN 0
                       ELSE least(9, greatest(0,
                            CAST(floor((x - b.mn) * 10 / (b.mx - b.mn))
                                 AS INT))) END AS bin,
                  count(*) AS cr
           FROM r, b GROUP BY 1),
    cb AS (SELECT CASE WHEN b.mx = b.mn THEN 0
                       ELSE least(9, greatest(0,
                            CAST(floor((x - b.mn) * 10 / (b.mx - b.mn))
                                 AS INT))) END AS bin,
                  count(*) AS cc
           FROM c, b GROUP BY 1),
    grid AS (SELECT coalesce(rb.cr, 0) AS cr, coalesce(cb.cc, 0) AS cc
             FROM (SELECT unnest(generate_series(0, 9)) AS bin) g
             LEFT JOIN rb ON rb.bin = g.bin
             LEFT JOIN cb ON cb.bin = g.bin),
    tot AS (SELECT CAST(sum(cr) AS BIGINT) AS nr,
                   CAST(sum(cc) AS BIGINT) AS nc FROM grid)
    SELECT 'c_acctbal' AS col_name, 10 AS n_bins,
           t.nr AS n_ref, t.nc AS n_cur,
           round(sum(((cc + 0.5) / (t.nc + 5.0)
                      - (cr + 0.5) / (t.nr + 5.0))
                     * ln(((cc + 0.5) / (t.nc + 5.0))
                          / ((cr + 0.5) / (t.nr + 5.0)))), 6) AS psi
    FROM grid, tot t GROUP BY t.nr, t.nc
    """,
)
def drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI of a %3-shifted balance column against the original
    (deferred — pytest-mirrored): frozen reference bins, Laplace
    smoothing, out-of-range clamping exercised by the +2000 shift."""
    from ..operators.drift import psi_report

    cust = load_table(spark, sf_dir, "customer")
    cur = cust.select(
        (
            F.col("c_acctbal")
            + F.when(F.col("c_custkey") % 3 == 0, 2000).otherwise(0)
        ).alias("c_acctbal")
    )
    return psi_report(cust, cur, "c_acctbal", n_bins=10)


@register(
    "drift_ks",
    sql="""
    WITH r AS (SELECT o_totalprice::DOUBLE AS x FROM orders
               WHERE o_totalprice IS NOT NULL),
    c AS (SELECT (o_totalprice + CASE WHEN o_orderkey % 4 = 0
                                      THEN 500 ELSE 0 END)::DOUBLE AS x
          FROM orders WHERE o_totalprice IS NOT NULL),
    rv AS (SELECT x, CAST(count(*) AS BIGINT) AS cr FROM r GROUP BY x),
    cv AS (SELECT x, CAST(count(*) AS BIGINT) AS cc FROM c GROUP BY x),
    m AS (SELECT coalesce(rv.x, cv.x) AS x,
                 coalesce(cr, 0) AS cr, coalesce(cc, 0) AS cc
          FROM rv FULL OUTER JOIN cv ON rv.x = cv.x),
    s AS (SELECT sum(cr) OVER w AS cum_r, sum(cc) OVER w AS cum_c
          FROM m WINDOW w AS (ORDER BY x ROWS BETWEEN UNBOUNDED
                              PRECEDING AND CURRENT ROW)),
    t AS (SELECT CAST(max(cum_r) AS BIGINT) AS nr,
                 CAST(max(cum_c) AS BIGINT) AS nc FROM s)
    SELECT 'o_totalprice' AS col_name, t.nr AS n_ref, t.nc AS n_cur,
           round(max(abs(cum_r * t.nc - cum_c * t.nr))
                 / (t.nr::DOUBLE * t.nc), 6) AS ks
    FROM s, t GROUP BY t.nr, t.nc
    """,
)
def drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS distance between order totals and a %4
    +500 shift of them (deferred — pytest-mirrored): integer
    |cum_r·n_c − cum_c·n_r| numerators, one division."""
    from ..operators.drift import ks_distance

    o = load_table(spark, sf_dir, "orders")
    cur = o.select(
        (
            F.col("o_totalprice")
            + F.when(F.col("o_orderkey") % 4 == 0, 500).otherwise(0)
        ).alias("o_totalprice")
    )
    return ks_distance(o, cur, "o_totalprice")


@register(
    "drift_ks_banded",
    sql="""
    WITH r AS (SELECT floor(o_totalprice::DOUBLE / 1000.0) * 1000.0 AS x
               FROM orders WHERE o_totalprice IS NOT NULL),
    c AS (SELECT floor((o_totalprice + CASE WHEN o_orderkey % 4 = 0
                                            THEN 500 ELSE 0 END)::DOUBLE
                       / 1000.0) * 1000.0 AS x
          FROM orders WHERE o_totalprice IS NOT NULL),
    rv AS (SELECT x, CAST(count(*) AS BIGINT) AS cr FROM r GROUP BY x),
    cv AS (SELECT x, CAST(count(*) AS BIGINT) AS cc FROM c GROUP BY x),
    m AS (SELECT coalesce(rv.x, cv.x) AS x,
                 coalesce(cr, 0) AS cr, coalesce(cc, 0) AS cc
          FROM rv FULL OUTER JOIN cv ON rv.x = cv.x),
    s AS (SELECT sum(cr) OVER w AS cum_r, sum(cc) OVER w AS cum_c
          FROM m WINDOW w AS (ORDER BY x ROWS BETWEEN UNBOUNDED
                              PRECEDING AND CURRENT ROW)),
    t AS (SELECT CAST(max(cum_r) AS BIGINT) AS nr,
                 CAST(max(cum_c) AS BIGINT) AS nc FROM s)
    SELECT 'o_totalprice' AS col_name, 1000.0 AS band_width,
           t.nr AS n_ref, t.nc AS n_cur,
           round(max(abs(cum_r * t.nc - cum_c * t.nr))
                 / (t.nr::DOUBLE * t.nc), 6) AS ks
    FROM s, t GROUP BY t.nr, t.nc
    """,
)
def drift_ks_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded KS over width-1000 price bands (deferred —
    pytest-mirrored): the 100 TB convenience form of drift_ks for
    continuous columns — floor-band both sides, exact-integer KS over
    the band grid, error bounded by the band width. Grid size is
    range/width, never row count, so the exact form's max_values guard
    is structurally satisfied."""
    from ..operators.drift import ks_distance_banded

    o = load_table(spark, sf_dir, "orders")
    cur = o.select(
        (
            F.col("o_totalprice")
            + F.when(F.col("o_orderkey") % 4 == 0, 500).otherwise(0)
        ).alias("o_totalprice")
    )
    return ks_distance_banded(o, cur, "o_totalprice", width=1000.0)


@register(
    "drift_chi2",
    sql="""
    WITH r AS (SELECT c_mktsegment IS NULL AS isn,
                      coalesce(c_mktsegment, '') AS v
               FROM customer),
    c AS (SELECT x IS NULL AS isn, coalesce(x, '') AS v
          FROM (SELECT CASE WHEN c_custkey % 6 = 0 THEN 'NEWSEG'
                            ELSE c_mktsegment END AS x
                FROM customer)),
    rc AS (SELECT isn, v, CAST(count(*) AS BIGINT) AS cr
           FROM r GROUP BY isn, v),
    cc AS (SELECT isn, v, CAST(count(*) AS BIGINT) AS cv
           FROM c GROUP BY isn, v),
    m AS (SELECT coalesce(rc.cr, 0) AS cr, coalesce(cc.cv, 0) AS cv
          FROM rc FULL OUTER JOIN cc
          ON rc.v = cc.v AND rc.isn = cc.isn),
    t AS (SELECT CAST(sum(cr) AS BIGINT) AS nr,
                 CAST(sum(cv) AS BIGINT) AS nc,
                 CAST(count(*) AS BIGINT) AS ncat FROM m)
    SELECT 'c_mktsegment' AS col_name, t.nr AS n_ref, t.nc AS n_cur,
           t.ncat AS n_categories,
           round(sum((cv - greatest(cr::DOUBLE, 0.5) * t.nc / t.nr)
                     * (cv - greatest(cr::DOUBLE, 0.5) * t.nc / t.nr)
                     / (greatest(cr::DOUBLE, 0.5) * t.nc / t.nr)), 6)
               AS chi2
    FROM m, t GROUP BY t.nr, t.nc, t.ncat
    """,
)
def drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square drift of the segment mix after a %6 remap to a
    brand-new category (deferred — pytest-mirrored): the Laplace floor
    on the unseen-in-reference category is exercised by NEWSEG."""
    from ..operators.drift import chi2_drift

    cust = load_table(spark, sf_dir, "customer")
    cur = cust.select(
        F.when(F.col("c_custkey") % 6 == 0, "NEWSEG")
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment")
    )
    return chi2_drift(cust, cur, "c_mktsegment")


# --------------------------------------------------------------------------
# capstone composition: INCREMENTAL corpus refresh — yesterday's gated,
# exact-deduped snapshot + today's raw drop → gate the drop, dedup it
# against history by hash only (history text never rescanned), MERGE
# the fresh rows in. Composes the corpus gates, incremental_exact_dedup,
# and maintenance.merge_upsert into the one workflow a daily 100 TB
# ingest actually runs; the oracle restates the whole thing in SQL.
# --------------------------------------------------------------------------
def _register_incremental_refresh() -> None:
    gate_ctes = f"""
    norm0 AS (SELECT doc_id, text,
                     lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t
              FROM documents),
    stats AS (SELECT doc_id, t,
                     CAST(len(string_split(t, ' ')) AS BIGINT) AS n_words,
                     {", ".join(f"{_sql_lang_score(lang)} AS score_{lang}" for lang in sorted(text.LANG_MARKERS))}
              FROM norm0),
    langed AS (SELECT doc_id, t, n_words,
                      CASE WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
                           {"".join(f"WHEN score_{lang} = greatest(score_de, score_en, score_es, score_fr) THEN '{lang}' " for lang in sorted(text.LANG_MARKERS))}
                           ELSE 'und' END AS pred_lang
               FROM stats),
    base AS (SELECT * FROM langed
             WHERE n_words BETWEEN {_CC_MIN} AND {_CC_MAX} AND pred_lang = 'en')
    """
    register(
        "pipeline_incremental_refresh",
        sql=f"""
        WITH {gate_ctes},
        hist AS (SELECT * FROM base WHERE doc_id % 2 = 0),
        drop_ AS (SELECT * FROM base WHERE doc_id % 2 = 1),
        snap AS (SELECT doc_id, pred_lang, n_words, md5(t) AS h FROM (
                     SELECT *, min(doc_id) OVER (PARTITION BY md5(t)) AS keep
                     FROM hist)
                 WHERE doc_id = keep),
        fresh0 AS (SELECT * FROM drop_
                   WHERE md5(t) NOT IN (SELECT h FROM snap)),
        fresh AS (SELECT doc_id, pred_lang, n_words FROM (
                      SELECT *, min(doc_id) OVER (PARTITION BY md5(t)) AS keep
                      FROM fresh0)
                  WHERE doc_id = keep)
        SELECT doc_id, pred_lang, n_words FROM snap
        UNION ALL
        SELECT doc_id, pred_lang, n_words FROM fresh
        """,
    )(_pipeline_incremental_refresh)


def _pipeline_incremental_refresh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The daily-ingest workflow end-to-end (deferred —
    pytest-mirrored): even doc_ids play yesterday's already-clean
    snapshot, odd doc_ids arrive as today's raw drop. The drop passes
    the same gates, dedups against history BY HASH ONLY
    (incremental_exact_dedup — history text is never rescanned), and
    the survivors MERGE into the snapshot (merge_upsert — union + one
    max_by agg, no join of two big sides)."""
    from ..operators.maintenance import merge_upsert
    from ..operators.util import spread

    docs = load_table(spark, sf_dir, "documents")

    def gated(df: DataFrame) -> DataFrame:
        # spread (local-mode only): each branch's normalize+language-ID
        # pass would otherwise run on the one-task parquet scan
        base = (
            dedup.normalized(spread(df, "doc_id"))
            .withColumn(
                "n_words", F.size(F.split("_norm", " ")).cast("long")
            )
            .withColumn("pred_lang", text.language_id_col(F.col("_norm")))
            .filter(
                (F.col("n_words") >= _CC_MIN)
                & (F.col("n_words") <= _CC_MAX)
                & (F.col("pred_lang") == "en")
            )
        )
        return base.select("doc_id", "text", "pred_lang", "n_words")

    hist = gated(docs.filter(F.col("doc_id") % 2 == 0))
    drop = gated(docs.filter(F.col("doc_id") % 2 == 1))
    snap = dedup.exact_dedup_keep(hist)
    seen = dedup.exact_dedup(hist).select("text_hash")
    fresh = dedup.incremental_exact_dedup(drop, seen)
    out_cols = ["doc_id", "pred_lang", "n_words"]
    return merge_upsert(
        snap.select(*out_cols), fresh.select(*out_cols), ["doc_id"]
    )


_register_incremental_refresh()


@register(
    "drift_js",
    sql="""
    WITH r AS (SELECT c_acctbal::DOUBLE AS x FROM customer
               WHERE c_acctbal IS NOT NULL),
    c AS (SELECT (c_acctbal + CASE WHEN c_custkey % 3 = 0
                                   THEN 2000 ELSE 0 END)::DOUBLE AS x
          FROM customer WHERE c_acctbal IS NOT NULL),
    b AS (SELECT min(x) AS mn, max(x) AS mx FROM r),
    rb AS (SELECT CASE WHEN b.mx = b.mn THEN 0
                       ELSE least(9, greatest(0,
                            CAST(floor((x - b.mn) * 10 / (b.mx - b.mn))
                                 AS INT))) END AS bin,
                  count(*) AS cr
           FROM r, b GROUP BY 1),
    cb AS (SELECT CASE WHEN b.mx = b.mn THEN 0
                       ELSE least(9, greatest(0,
                            CAST(floor((x - b.mn) * 10 / (b.mx - b.mn))
                                 AS INT))) END AS bin,
                  count(*) AS cc
           FROM c, b GROUP BY 1),
    grid AS (SELECT coalesce(rb.cr, 0) AS cr, coalesce(cb.cc, 0) AS cc
             FROM (SELECT unnest(generate_series(0, 9)) AS bin) g
             LEFT JOIN rb ON rb.bin = g.bin
             LEFT JOIN cb ON cb.bin = g.bin),
    tot AS (SELECT CAST(sum(cr) AS BIGINT) AS nr,
                   CAST(sum(cc) AS BIGINT) AS nc FROM grid),
    pq AS (SELECT (cr + 0.5) / (t.nr + 5.0) AS p,
                  (cc + 0.5) / (t.nc + 5.0) AS q,
                  t.nr, t.nc
           FROM grid, tot t)
    SELECT 'c_acctbal' AS col_name, 10 AS n_bins,
           nr AS n_ref, nc AS n_cur,
           round(sum(p * ln(p / ((p + q) / 2))
                     + q * ln(q / ((p + q) / 2))) / 2, 6) AS js
    FROM pq GROUP BY nr, nc
    """,
)
def drift_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence over the same frozen-bin grid as
    drift_psi (deferred — pytest-mirrored): symmetric, bounded [0,ln2]
    — the calibrated cross-column complement to PSI."""
    from ..operators.drift import js_divergence

    cust = load_table(spark, sf_dir, "customer")
    cur = cust.select(
        (
            F.col("c_acctbal")
            + F.when(F.col("c_custkey") % 3 == 0, 2000).otherwise(0)
        ).alias("c_acctbal")
    )
    return js_divergence(cust, cur, "c_acctbal", n_bins=10)


# --------------------------------------------------------------------------
# One-scan table profiling (operators/profiling.py) — the discovery dual
# of quality_expectations: per-column null/distinct/min/max in ONE fused
# aggregation, and per-column heavy hitters in one unpivot pass. The
# driver queries profile the documents table with deterministically
# induced NULLs so the null accounting is exercised; columns are
# bigint/varchar only (float→string rendering differs across engines).
# --------------------------------------------------------------------------
@register(
    "profile_table",
    sql="""
    WITH d AS (SELECT doc_id,
                      CASE WHEN doc_id % 5 = 0 THEN NULL ELSE lang END
                          AS lang,
                      source, n_chars
               FROM documents),
    a AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(count(doc_id) AS BIGINT) AS nn_doc_id,
                 CAST(count(DISTINCT doc_id) AS BIGINT) AS nd_doc_id,
                 CAST(min(doc_id) AS VARCHAR) AS mn_doc_id,
                 CAST(max(doc_id) AS VARCHAR) AS mx_doc_id,
                 CAST(count(lang) AS BIGINT) AS nn_lang,
                 CAST(count(DISTINCT lang) AS BIGINT) AS nd_lang,
                 min(lang) AS mn_lang, max(lang) AS mx_lang,
                 CAST(count(source) AS BIGINT) AS nn_source,
                 CAST(count(DISTINCT source) AS BIGINT) AS nd_source,
                 min(source) AS mn_source, max(source) AS mx_source,
                 CAST(count(n_chars) AS BIGINT) AS nn_n_chars,
                 CAST(count(DISTINCT n_chars) AS BIGINT) AS nd_n_chars,
                 CAST(min(n_chars) AS VARCHAR) AS mn_n_chars,
                 CAST(max(n_chars) AS VARCHAR) AS mx_n_chars
          FROM d)
    SELECT 'doc_id' AS col_name, 'bigint' AS dtype, n AS n_rows,
           n - nn_doc_id AS n_null,
           round((n - nn_doc_id) / CAST(n AS DOUBLE), 6) AS null_frac,
           nd_doc_id AS n_distinct, mn_doc_id AS min_value,
           mx_doc_id AS max_value
    FROM a
    UNION ALL
    SELECT 'lang', 'string', n, n - nn_lang,
           round((n - nn_lang) / CAST(n AS DOUBLE), 6),
           nd_lang, mn_lang, mx_lang FROM a
    UNION ALL
    SELECT 'source', 'string', n, n - nn_source,
           round((n - nn_source) / CAST(n AS DOUBLE), 6),
           nd_source, mn_source, mx_source FROM a
    UNION ALL
    SELECT 'n_chars', 'bigint', n, n - nn_n_chars,
           round((n - nn_n_chars) / CAST(n AS DOUBLE), 6),
           nd_n_chars, mn_n_chars, mx_n_chars FROM a
    """,
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan per-column profile of the documents table with lang
    NULLed every %5 (deferred — pytest-mirrored): row/null/distinct
    counts, null fraction, native-typed min/max rendered as strings —
    the discovery report a pipeline runs before writing
    quality_expectations for a new table."""
    from ..operators.profiling import profile_table as _profile

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0, None)
        .otherwise(F.col("lang"))
        .alias("lang"),
        "source",
        "n_chars",
    )
    return _profile(docs, ["doc_id", "lang", "source", "n_chars"])


@register(
    "profile_top_values",
    sql="""
    WITH d AS (SELECT CASE WHEN doc_id % 5 = 0 THEN NULL ELSE lang END
                          AS lang,
                      source
               FROM documents),
    long AS (
        SELECT 'lang' AS col_name, lang IS NULL AS isn,
               coalesce(lang, '') AS v FROM d
        UNION ALL
        SELECT 'source', source IS NULL, coalesce(source, '') FROM d),
    c AS (SELECT col_name, isn, v, CAST(count(*) AS BIGINT) AS n
          FROM long GROUP BY col_name, isn, v),
    r AS (SELECT col_name, isn, v, n,
                 row_number() OVER (PARTITION BY col_name
                                    ORDER BY n DESC, isn ASC, v ASC)
                     AS rank
          FROM c)
    SELECT col_name, CASE WHEN isn THEN NULL ELSE v END AS value, n,
           CAST(rank AS INT) AS rank
    FROM r WHERE rank <= 3
    """,
)
def profile_top_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 values per column over (lang-with-NULLs, source)
    (deferred — pytest-mirrored): ONE unpivot pass + keyed agg +
    bounded window; NULL is keyed collision-proof as (is_null, value)
    and surfaces as a ranked value — a dominant-NULL column is what a
    profile exists to show."""
    from ..operators.profiling import top_values

    docs = load_table(spark, sf_dir, "documents").select(
        F.when(F.col("doc_id") % 5 == 0, None)
        .otherwise(F.col("lang"))
        .alias("lang"),
        "source",
    )
    return top_values(docs, ["lang", "source"], k=3)


@register(
    "profile_diff",
    sql="""
    WITH r AS (SELECT doc_id, lang, source FROM documents),
    c AS (SELECT CAST(doc_id AS INTEGER) AS doc_id,
                 CASE WHEN doc_id % 4 = 0 THEN NULL ELSE lang END AS lang,
                 n_chars
          FROM documents),
    pr AS (
        SELECT 'doc_id' AS col_name, 'bigint' AS dtype,
               round(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE), 6) AS null_frac,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct
        FROM r
        UNION ALL
        SELECT 'lang', 'string',
               round(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE), 6),
               CAST(count(DISTINCT lang) AS BIGINT) FROM r
        UNION ALL
        SELECT 'source', 'string',
               round(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE), 6),
               CAST(count(DISTINCT source) AS BIGINT) FROM r),
    pc AS (
        SELECT 'doc_id' AS col_name, 'int' AS dtype,
               round(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE), 6) AS null_frac,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct
        FROM c
        UNION ALL
        SELECT 'lang', 'string',
               round(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE), 6),
               CAST(count(DISTINCT lang) AS BIGINT) FROM c
        UNION ALL
        SELECT 'n_chars', 'bigint',
               round(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE), 6),
               CAST(count(DISTINCT n_chars) AS BIGINT) FROM c)
    SELECT coalesce(pr.col_name, pc.col_name) AS col_name,
           CASE WHEN pr.dtype IS NULL THEN 'added'
                WHEN pc.dtype IS NULL THEN 'removed'
                WHEN pr.dtype <> pc.dtype THEN 'retyped'
                ELSE 'kept' END AS status,
           pr.dtype AS dtype_ref, pc.dtype AS dtype_cur,
           pr.null_frac AS null_frac_ref, pc.null_frac AS null_frac_cur,
           CASE WHEN pr.null_frac IS NOT NULL AND pc.null_frac IS NOT NULL
                THEN round(pc.null_frac - pr.null_frac, 6) END
               AS null_frac_delta,
           pr.n_distinct AS n_distinct_ref,
           pc.n_distinct AS n_distinct_cur
    FROM pr FULL OUTER JOIN pc ON pr.col_name = pc.col_name
    """,
)
def profile_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-and-stats drift between two snapshot shapes of the
    documents table (deferred — pytest-mirrored): the cur side drops
    ``source`` (removed), adds ``n_chars`` (added), narrows doc_id to
    int (retyped), and NULLs lang every %4 (null_frac_delta) — one
    profile scan per side, column-count-bounded join."""
    from ..operators.profiling import profile_diff as _diff

    docs = load_table(spark, sf_dir, "documents")
    ref = docs.select("doc_id", "lang", "source")
    cur = docs.select(
        F.col("doc_id").cast("int").alias("doc_id"),
        F.when(F.col("doc_id") % 4 == 0, None)
        .otherwise(F.col("lang"))
        .alias("lang"),
        "n_chars",
    )
    return _diff(ref, cur)


@register("text_compression_ratio")
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compressibility screen over documents (deferred; NO SQL
    oracle possible — DEFLATE is not expressible in DuckDB SQL; the
    kernel is differential-pinned against direct python zlib in
    tests/test_profiling.py). Both failure tails gate on one scalar:
    template spam compresses too well, encoded garbage not at all."""
    from ..operators.text import compression_ratios

    docs = load_table(spark, sf_dir, "documents")
    return compression_ratios(docs).orderBy("doc_id")


@register(
    "drift_chi2_many",
    sql="""
    WITH r1 AS (SELECT c_mktsegment IS NULL AS isn,
                       coalesce(c_mktsegment, '') AS v
                FROM customer),
    c1 AS (SELECT x IS NULL AS isn, coalesce(x, '') AS v
           FROM (SELECT CASE WHEN c_custkey % 6 = 0 THEN 'NEWSEG'
                             ELSE c_mktsegment END AS x
                 FROM customer)),
    r2 AS (SELECT CAST(c_nationkey AS VARCHAR) IS NULL AS isn,
                  coalesce(CAST(c_nationkey AS VARCHAR), '') AS v
           FROM customer),
    c2 AS (SELECT x IS NULL AS isn, coalesce(x, '') AS v
           FROM (SELECT CAST(CASE WHEN c_custkey % 5 = 0 THEN NULL
                                  ELSE c_nationkey END AS VARCHAR) AS x
                 FROM customer)),
    chi AS (
        SELECT 'c_mktsegment' AS col_name, rc.isn, rc.v,
               coalesce(rc.cr, 0) AS cr, coalesce(cc.cv, 0) AS cv
        FROM (SELECT isn, v, CAST(count(*) AS BIGINT) AS cr
              FROM r1 GROUP BY isn, v) rc
        FULL OUTER JOIN (SELECT isn, v, CAST(count(*) AS BIGINT) AS cv
                         FROM c1 GROUP BY isn, v) cc
        ON rc.v = cc.v AND rc.isn = cc.isn
        UNION ALL
        SELECT 'c_nationkey', coalesce(rc.isn, cc.isn),
               coalesce(rc.v, cc.v),
               coalesce(rc.cr, 0), coalesce(cc.cv, 0)
        FROM (SELECT isn, v, CAST(count(*) AS BIGINT) AS cr
              FROM r2 GROUP BY isn, v) rc
        FULL OUTER JOIN (SELECT isn, v, CAST(count(*) AS BIGINT) AS cv
                         FROM c2 GROUP BY isn, v) cc
        ON rc.v = cc.v AND rc.isn = cc.isn),
    tot AS (SELECT col_name, cr, cv,
                   sum(cr) OVER (PARTITION BY col_name) AS nr,
                   sum(cv) OVER (PARTITION BY col_name) AS nc
            FROM chi)
    SELECT col_name, CAST(max(nr) AS BIGINT) AS n_ref,
           CAST(max(nc) AS BIGINT) AS n_cur,
           CAST(count(*) AS BIGINT) AS n_categories,
           round(sum((cv - greatest(cr::DOUBLE, 0.5) * nc / nr)
                     * (cv - greatest(cr::DOUBLE, 0.5) * nc / nr)
                     / (greatest(cr::DOUBLE, 0.5) * nc / nr)), 6) AS chi2
    FROM tot GROUP BY col_name
    """,
)
def drift_chi2_many(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused chi-square drift of TWO categorical columns in one scan
    per side (deferred — pytest-mirrored): segment remap exercises the
    brand-new-category floor, the %5 nationkey NULLing exercises the
    collision-proof NULL bucket; per-column semantics == drift_chi2."""
    from ..operators.drift import chi2_drift_many

    cust = load_table(spark, sf_dir, "customer")
    ref = cust.select(
        "c_mktsegment",
        F.col("c_nationkey").cast("string").alias("c_nationkey"),
    )
    cur = cust.select(
        F.when(F.col("c_custkey") % 6 == 0, "NEWSEG")
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
        F.when(F.col("c_custkey") % 5 == 0, None)
        .otherwise(F.col("c_nationkey").cast("string"))
        .alias("c_nationkey"),
    )
    return chi2_drift_many(ref, cur, ["c_mktsegment", "c_nationkey"])


@register(
    "profile_numeric",
    sql="""
    WITH d AS (SELECT c_acctbal::DOUBLE AS bal,
                      CASE WHEN c_custkey % 7 = 0 THEN NULL
                           ELSE c_custkey END::DOUBLE AS key
               FROM customer)
    SELECT 'c_acctbal' AS col_name,
           CAST(count(bal) AS BIGINT) AS n,
           round(avg(bal), 6) AS mean,
           round(quantile_cont(bal, 0.25), 6) AS p25,
           round(quantile_cont(bal, 0.50), 6) AS p50,
           round(quantile_cont(bal, 0.75), 6) AS p75
    FROM d
    UNION ALL
    SELECT 'c_custkey', CAST(count(key) AS BIGINT),
           round(avg(key), 6),
           round(quantile_cont(key, 0.25), 6),
           round(quantile_cont(key, 0.50), 6),
           round(quantile_cont(key, 0.75), 6)
    FROM d
    """,
)
def profile_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused exact quartiles + mean for two numeric columns in ONE
    aggregation (deferred — pytest-mirrored); the %7 NULLing exercises
    per-column NULL exclusion inside the shared scan."""
    from ..operators.profiling import profile_numeric as _pn

    cust = load_table(spark, sf_dir, "customer")
    d = cust.select(
        F.col("c_acctbal").cast("double").alias("c_acctbal"),
        F.when(F.col("c_custkey") % 7 == 0, None)
        .otherwise(F.col("c_custkey"))
        .cast("double")
        .alias("c_custkey"),
    )
    return _pn(d, ["c_acctbal", "c_custkey"])


# --------------------------------------------------------------------------
# Time-series resampling (operators/temporal.py) — the hypertable-rollup
# family: dense gapfilled downsamples (a GROUP BY only emits buckets
# that HAVE rows; monitoring charts, rate math, and as-of consumers
# need the empty buckets to exist under an explicit fill policy) and
# the OHLC downsample. Raw events collapse to (key, bucket) grain in
# ONE map-side-combined aggregation before any spine/fill work.
# --------------------------------------------------------------------------
@register(
    "event_gapfill",
    sql="""
    WITH e AS (SELECT event_type,
                      CAST(floor(epoch(ts)) AS BIGINT) AS t, value
               FROM events),
    b AS (SELECT event_type,
                 t - ((t % 3600 + 3600) % 3600) AS bucket,
                 CAST(count(value) AS BIGINT) AS n,
                 floor((avg(value)) * 1000000.0 + 0.5) / 1000000.0 AS v
          FROM e GROUP BY 1, 2),
    s AS (SELECT event_type,
                 unnest(generate_series(min(bucket), max(bucket),
                                        CAST(3600 AS BIGINT))) AS bucket
          FROM b GROUP BY event_type),
    j AS (SELECT s.event_type, s.bucket,
                 coalesce(b.n, 0) AS n, b.v
          FROM s LEFT JOIN b
            ON s.event_type = b.event_type AND s.bucket = b.bucket),
    w AS (SELECT event_type, bucket, n, v,
                 last_value(v IGNORE NULLS) OVER (
                     PARTITION BY event_type ORDER BY bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS pv,
                 last_value(CASE WHEN v IS NOT NULL THEN bucket END
                            IGNORE NULLS) OVER (
                     PARTITION BY event_type ORDER BY bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS pb,
                 first_value(v IGNORE NULLS) OVER (
                     PARTITION BY event_type ORDER BY bucket
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                     AS nv,
                 first_value(CASE WHEN v IS NOT NULL THEN bucket END
                             IGNORE NULLS) OVER (
                     PARTITION BY event_type ORDER BY bucket
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                     AS nb
          FROM j)
    SELECT event_type, bucket, n,
           floor((CASE WHEN v IS NOT NULL THEN v
                      WHEN pv IS NOT NULL AND nv IS NOT NULL
                      THEN pv + (nv - pv) * (bucket - pb) / (nb - pb)
                 END) * 1000000.0 + 0.5) / 1000000.0 AS value
    FROM w
    """,
)
def event_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly mean of event value per event_type with EVERY bucket
    between each type's first and last observation present — gaps
    linearly interpolated between the neighboring observed buckets
    (TimescaleDB time_bucket_gapfill + interpolate re-expressed as one
    bucket agg + a bucket-bounded spine + two keyed windows)."""
    from ..operators.temporal import time_bucket_gapfill

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type", event_seconds(ev).alias("t"), "value"
    )
    return time_bucket_gapfill(
        e, ["event_type"], "t", "value", width=3600,
        agg="avg", fill="linear",
    )


@register(
    "event_ohlc",
    sql="""
    WITH e AS (SELECT event_type,
                      CAST(floor(epoch(ts)) AS BIGINT) AS t,
                      event_id, value
               FROM events),
    b AS (SELECT event_type,
                 t - ((t % 86400 + 86400) % 86400) AS bucket,
                 t, event_id, value
          FROM e),
    w AS (SELECT event_type, bucket, value,
                 row_number() OVER (PARTITION BY event_type, bucket
                                    ORDER BY t, event_id) AS rf,
                 row_number() OVER (PARTITION BY event_type, bucket
                                    ORDER BY t DESC, event_id DESC) AS rl
          FROM b)
    SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n,
           floor((max(CASE WHEN rf = 1 THEN value END)) * 1000000.0 + 0.5) / 1000000.0 AS open,
           floor((max(value)) * 1000000.0 + 0.5) / 1000000.0 AS high,
           floor((min(value)) * 1000000.0 + 0.5) / 1000000.0 AS low,
           floor((max(CASE WHEN rl = 1 THEN value END)) * 1000000.0 + 0.5) / 1000000.0 AS close
    FROM w GROUP BY 1, 2
    """,
)
def event_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily open/high/low/close + count of event value per event_type
    — ONE hash aggregation (min_by/max_by on the (ts, event_id) order
    key; the oracle restates open/close via row_number because DuckDB's
    arg_min has no struct-ordered form). Deterministic under duplicate
    timestamps by the event_id tiebreak."""
    from ..operators.temporal import ohlc_downsample

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type", event_seconds(ev).alias("t"), "event_id", "value"
    )
    return ohlc_downsample(
        e, ["event_type"], "t", "value", width=86400, seq_col="event_id"
    )


# --------------------------------------------------------------------------
# Key / foreign-key discovery (operators/profiling.py) — the structural
# complement to profile_table: which column combinations are keys (ONE
# fused aggregation for all combos), and which cross-table inclusion
# dependencies hold (distinct-collapsed containment join). The
# discovery step before declaring `unique` expectations, choosing MERGE
# keys, or trusting a join.
# --------------------------------------------------------------------------
@register(
    "profile_candidate_keys",
    sql="""
    WITH d AS (SELECT o_orderkey,
                      CASE WHEN o_orderkey % 11 = 0 THEN NULL
                           ELSE o_custkey END AS o_custkey,
                      o_orderstatus
               FROM orders),
    a AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(count(DISTINCT o_orderkey) AS BIGINT) AS nd1,
                 CAST(count(DISTINCT o_custkey) AS BIGINT) AS nd2,
                 CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS nd3,
                 CAST(count(DISTINCT CASE
                     WHEN o_orderkey IS NOT NULL
                      AND o_custkey IS NOT NULL
                     THEN ROW(o_orderkey, o_custkey) END) AS BIGINT)
                     AS nd12,
                 CAST(count(DISTINCT CASE
                     WHEN o_orderkey IS NOT NULL
                      AND o_orderstatus IS NOT NULL
                     THEN ROW(o_orderkey, o_orderstatus) END) AS BIGINT)
                     AS nd13,
                 CAST(count(DISTINCT CASE
                     WHEN o_custkey IS NOT NULL
                      AND o_orderstatus IS NOT NULL
                     THEN ROW(o_custkey, o_orderstatus) END) AS BIGINT)
                     AS nd23
          FROM d)
    SELECT 'o_orderkey' AS columns, CAST(1 AS INT) AS arity, n AS n_rows,
           nd1 AS n_distinct, round(nd1 / CAST(n AS DOUBLE), 6)
               AS uniqueness, nd1 = n AS is_key FROM a
    UNION ALL
    SELECT 'o_custkey', 1, n, nd2, round(nd2 / CAST(n AS DOUBLE), 6),
           nd2 = n FROM a
    UNION ALL
    SELECT 'o_orderstatus', 1, n, nd3,
           round(nd3 / CAST(n AS DOUBLE), 6), nd3 = n FROM a
    UNION ALL
    SELECT 'o_orderkey,o_custkey', 2, n, nd12,
           round(nd12 / CAST(n AS DOUBLE), 6), nd12 = n FROM a
    UNION ALL
    SELECT 'o_orderkey,o_orderstatus', 2, n, nd13,
           round(nd13 / CAST(n AS DOUBLE), 6), nd13 = n FROM a
    UNION ALL
    SELECT 'o_custkey,o_orderstatus', 2, n, nd23,
           round(nd23 / CAST(n AS DOUBLE), 6), nd23 = n FROM a
    """,
)
def profile_candidate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key discovery over orders with o_custkey NULLed every %11
    (deferred — pytest-mirrored): all single columns and pairs measured
    in ONE aggregation; COUNT(DISTINCT) NULL-skip semantics make
    is_key = complete AND unique. The NULL injection pins the rule that
    a pair containing a NULL never counts toward a key."""
    from ..operators.profiling import candidate_keys

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 11 == 0, None)
        .otherwise(F.col("o_custkey"))
        .alias("o_custkey"),
        "o_orderstatus",
    )
    return candidate_keys(
        orders, ["o_orderkey", "o_custkey", "o_orderstatus"]
    )


@register(
    "profile_fk_containment",
    sql="""
    SELECT 'orders.o_custkey->customer.c_custkey' AS relation,
           CAST(count(*) AS BIGINT) AS n_child_distinct,
           CAST(count(p.v) AS BIGINT) AS n_matched,
           round(count(p.v) / CAST(count(*) AS DOUBLE), 6) AS containment,
           coalesce(count(p.v) = count(*), FALSE) AS is_contained
    FROM (SELECT DISTINCT o_custkey AS v FROM orders
          WHERE o_custkey IS NOT NULL) c
    LEFT JOIN (SELECT DISTINCT c_custkey AS v FROM customer
               WHERE c_custkey IS NOT NULL) p ON c.v = p.v
    UNION ALL
    SELECT 'lineitem.l_suppkey->supplier.s_suppkey',
           CAST(count(*) AS BIGINT), CAST(count(p.v) AS BIGINT),
           round(count(p.v) / CAST(count(*) AS DOUBLE), 6),
           coalesce(count(p.v) = count(*), FALSE)
    FROM (SELECT DISTINCT l_suppkey AS v FROM lineitem
          WHERE l_suppkey IS NOT NULL) c
    LEFT JOIN (SELECT DISTINCT s_suppkey AS v FROM supplier
               WHERE s_suppkey IS NOT NULL) p ON c.v = p.v
    UNION ALL
    SELECT 'customer.c_custkey->events.user_id',
           CAST(count(*) AS BIGINT), CAST(count(p.v) AS BIGINT),
           round(count(p.v) / CAST(count(*) AS DOUBLE), 6),
           coalesce(count(p.v) = count(*), FALSE)
    FROM (SELECT DISTINCT c_custkey AS v FROM customer
          WHERE c_custkey IS NOT NULL) c
    LEFT JOIN (SELECT DISTINCT user_id AS v FROM events
               WHERE user_id IS NOT NULL) p ON c.v = p.v
    """,
)
def profile_fk_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusion-dependency discovery across the star schema (deferred
    — pytest-mirrored): two true foreign keys (containment 1.0) and one
    deliberate non-FK (customer keys mostly absent from the 150-user
    events stream) — both sides distinct-collapse map-side before the
    vocabulary-sized containment join."""
    from ..operators.profiling import fk_containment

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    ev = load_table(spark, sf_dir, "events")
    r1 = fk_containment(
        orders, "o_custkey", cust, "c_custkey",
        label="orders.o_custkey->customer.c_custkey",
    )
    r2 = fk_containment(
        li, "l_suppkey", supp, "s_suppkey",
        label="lineitem.l_suppkey->supplier.s_suppkey",
    )
    r3 = fk_containment(
        cust, "c_custkey", ev, "user_id",
        label="customer.c_custkey->events.user_id",
    )
    return r1.unionByName(r2).unionByName(r3)


# --------------------------------------------------------------------------
# Markup stripping + Unicode normalization (operators/text.py) — the
# extraction/canonicalization stages upstream of every hash-keyed dedup
# operator. Deterministic markup/mojibake is injected from doc_id (the
# text_redact_pii discipline: the synthetic corpus carries neither), and
# the oracle restates injection + the same Java/RE2-common chains, so
# the cleaned text itself is value-hashed.
# --------------------------------------------------------------------------
_ENT_SQL = (
    "replace(replace(replace(replace(replace(replace({t}, "
    "'&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), "
    "'&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&')"
)


@register(
    "text_strip_markup",
    sql=f"""
    WITH injected AS (
        SELECT doc_id,
               '<p class="x">' || text || '</p> <script a=1>var d='
                   || CAST(doc_id AS VARCHAR) || ';</script>'
                   || CASE WHEN doc_id % 3 = 0
                           THEN '<!-- c --> &amp;lt; <br/>ok'
                           ELSE ' <b>&quot;q&#39;</b>' END AS t
        FROM documents),
    deblocked AS (
        SELECT doc_id,
               regexp_replace(regexp_replace(regexp_replace(t,
                   '{text.MARKUP_SCRIPT_RE}', ' ', 'g'),
                   '{text.MARKUP_STYLE_RE}', ' ', 'g'),
                   '{text.MARKUP_COMMENT_RE}', ' ', 'g') AS t
        FROM injected),
    counted AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(t, '{text.MARKUP_TAG_RE}'))
                    AS BIGINT) AS n_tags,
               regexp_replace(t, '{text.MARKUP_TAG_RE}', ' ', 'g') AS t
        FROM deblocked)
    SELECT doc_id,
           trim(regexp_replace({_ENT_SQL.format(t='t')}, '\\s+', ' ',
                               'g')) AS clean_text,
           n_tags
    FROM counted
    """,
)
def text_strip_markup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup removal over documents wrapped in deterministic
    doc_id-derived HTML (deferred — pytest-mirrored): script bodies
    deleted wholesale, tags unwrapped and counted, entities decoded
    (&amp; last), whitespace collapsed — a pure JVM projection."""
    docs = load_table(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.lit('<p class="x">'),
            F.col("text"),
            F.lit("</p> <script a=1>var d="),
            F.col("doc_id").cast("string"),
            F.lit(";</script>"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit("<!-- c --> &amp;lt; <br/>ok"),
            ).otherwise(F.lit(" <b>&quot;q&#39;</b>")),
        ).alias("text"),
    )
    return text.strip_markup(injected)


@register(
    "text_normalize",
    sql=f"""
    WITH injected AS (
        SELECT doc_id,
               chr(8220) || text || chr(8221) || chr(8211) || ' x'
                   || chr(1) || chr(8230) || chr(160) || 'end'
                   || chr(8203) AS t
        FROM documents)
    SELECT doc_id,
           trim(regexp_replace(
               replace(
                   translate(
                       regexp_replace(t, '{text.NORM_CONTROL_RE}', '',
                                      'g'),
                       '{text.NORM_TRANSLATE_SRC}',
                       {text._NORM_DST_SQL}),
                   chr(8230), '...'),
               '\\s+', ' ', 'g')) AS clean_text,
           CAST(length(t) AS BIGINT) AS n_chars_before,
           CAST(length(trim(regexp_replace(
               replace(
                   translate(
                       regexp_replace(t, '{text.NORM_CONTROL_RE}', '',
                                      'g'),
                       '{text.NORM_TRANSLATE_SRC}',
                       {text._NORM_DST_SQL}),
                   chr(8230), '...'),
               '\\s+', ' ', 'g'))) AS BIGINT) AS n_chars_after
    FROM injected
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode canonicalization over documents wrapped in deterministic
    mojibake (curly quotes, en dash, a control byte, ellipsis, NBSP,
    zero-width space — deferred, pytest-mirrored): the pre-hash hygiene
    pass that makes byte-keyed dedup see identical prose identically."""
    docs = load_table(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.lit("\u201c"),
            F.col("text"),
            F.lit("\u201d\u2013 x\x01\u2026\u00a0end\u200b"),
        ).alias("text"),
    )
    return text.normalize_text(injected)


# --------------------------------------------------------------------------
# Time-series monitoring (operators/temporal.py, continued): derivative
# with counter semantics, prior-window level-shift scoring, and the
# phase-of-period seasonal profile — the time-axis complement of the
# two-snapshot statistics in operators/drift.py. All windows order by
# (t, event_id): the explicit tiebreak keeps duplicate timestamps
# deterministic on every engine.
# --------------------------------------------------------------------------
@register(
    "event_rate",
    sql="""
    WITH e AS (SELECT event_type,
                      CAST(floor(epoch(ts)) AS BIGINT) AS t,
                      event_id, value
               FROM events),
    l AS (SELECT event_type, t, value,
                 lag(t) OVER (PARTITION BY event_type
                              ORDER BY t, event_id) AS pt,
                 lag(value) OVER (PARTITION BY event_type
                                  ORDER BY t, event_id) AS pv
          FROM e)
    SELECT event_type, t, value,
           floor((CASE WHEN t - pt > 0
                      THEN (value - pv) / (t - pt) END) * 1000000.0 + 0.5) / 1000000.0 AS rate
    FROM l
    """,
)
def event_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-second derivative of event value per event_type (deferred —
    pytest-mirrored): one key-partitioned lag window, (t, event_id)
    tiebreak, zero-dt pairs NULL (never ±inf); the counter=True reset
    branch is pytest-pinned."""
    from ..operators.temporal import rate_of_change

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type", event_seconds(ev).alias("t"), "event_id", "value"
    )
    return rate_of_change(e, ["event_type"], "t", "value", "event_id")


@register(
    "event_zscore",
    sql="""
    WITH e AS (SELECT event_type,
                      CAST(floor(epoch(ts)) AS BIGINT) AS t,
                      event_id, value
               FROM events),
    w AS (SELECT event_type, t, value,
                 CAST(count(value) OVER fr AS DOUBLE) AS n,
                 sum(value) OVER fr AS s,
                 sum(value * value) OVER fr AS s2
          FROM e
          WINDOW fr AS (PARTITION BY event_type ORDER BY t, event_id
                        ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
    SELECT event_type, t, value,
           floor((CASE WHEN n >= 6 THEN s / n END) * 1000000.0 + 0.5) / 1000000.0 AS mean_prev,
           floor((CASE WHEN n >= 6
                       AND (s2 - s * s / n) / (n - 1) > 0
                      THEN (value - s / n)
                           / sqrt((s2 - s * s / n) / (n - 1)) END) * 1000000.0 + 0.5) / 1000000.0 AS z
    FROM w
    """,
)
def event_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each observation scored against its own series' PRIOR 24
    observations (deferred — pytest-mirrored): the current value never
    contaminates its baseline; variance from the windowed sum/sum-sq
    form, identical expression tree both engines."""
    from ..operators.temporal import rolling_zscore

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type", event_seconds(ev).alias("t"), "event_id", "value"
    )
    return rolling_zscore(
        e, ["event_type"], "t", "value", "event_id", window=24, min_obs=6
    )


@register(
    "event_seasonal",
    sql="""
    WITH e AS (SELECT event_type,
                      CAST(floor(epoch(ts)) AS BIGINT) AS t, value
               FROM events),
    p AS (SELECT event_type, t, value,
                 CAST(floor((((t % 86400) + 86400) % 86400) / 3600.0)
                      AS BIGINT) AS phase
          FROM e),
    b AS (SELECT event_type, phase, floor((avg(value)) * 1000000.0 + 0.5) / 1000000.0 AS baseline
          FROM p GROUP BY 1, 2)
    SELECT p.event_type, p.t, p.value, p.phase, b.baseline,
           floor((p.value - b.baseline) * 1000000.0 + 0.5) / 1000000.0 AS deviation
    FROM p LEFT JOIN b
      ON p.event_type = b.event_type AND p.phase = b.phase
    """,
)
def event_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every event against its type's hour-of-day mean (deferred —
    pytest-mirrored): the baseline is a (types x 24)-bounded table the
    join back broadcasts at any corpus size — "is this value normal
    for 3am"."""
    from ..operators.temporal import seasonal_deviations

    ev = load_table(spark, sf_dir, "events")
    e = ev.select("event_type", event_seconds(ev).alias("t"), "value")
    return seasonal_deviations(
        e, ["event_type"], "t", "value", period=86400, n_buckets=24
    )


# --------------------------------------------------------------------------
# Full merge_asof surface: nearest-with-tolerance attribution ("the
# purchase closest in time to each click, within an hour") — the
# union-and-carry kernel run in BOTH directions; the oracle
# cross-validates against DuckDB's native ASOF JOIN twice (>= backward,
# <= forward) composed with the same nearest/tolerance CASE.
# --------------------------------------------------------------------------
@register(
    "asof_join_nearest",
    sql="""
    WITH e AS (SELECT event_id, user_id,
                      CAST(floor(epoch(ts)) AS BIGINT) AS t
               FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
                 max(event_id) AS purchase_id
          FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
    b AS (SELECT e.event_id, e.user_id, e.t,
                 p.t AS bt, p.purchase_id AS bv
          FROM e ASOF LEFT JOIN p
            ON e.user_id = p.user_id AND e.t >= p.t),
    f AS (SELECT e.event_id, p.t AS ft, p.purchase_id AS fv
          FROM e ASOF LEFT JOIN p
            ON e.user_id = p.user_id AND e.t <= p.t)
    SELECT b.event_id, b.user_id, b.t,
           CASE WHEN bt IS NOT NULL AND b.t - bt <= 3600
                     AND (ft IS NULL OR ft - b.t > 3600
                          OR b.t - bt <= ft - b.t)
                THEN bv
                WHEN ft IS NOT NULL AND ft - b.t <= 3600 THEN fv
           END AS asof_purchase_id
    FROM b JOIN f ON b.event_id = f.event_id
    """,
)
def asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest purchase to each click per user within 3600 s, ties
    backward (deferred — pytest-mirrored): the merge_asof surface
    (direction + tolerance) over the union-and-carry kernel, validated
    against DuckDB's native ASOF in both directions."""
    from ..operators.asof import as_of_join

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id", "user_id", event_seconds(ev).alias("t"), "event_type"
    )
    clicks = base.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "t"
    )
    purchases = (
        base.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "t")
        .agg(F.max("event_id").alias("purchase_id"))
    )
    return as_of_join(
        clicks, purchases, ["user_id"], "t", "t", ["purchase_id"],
        direction="nearest", tolerance=3600,
    )


# --------------------------------------------------------------------------
# Fused correlation matrix — every numeric column pair in ONE
# aggregation; pairwise-complete NULL policy (pandas DataFrame.corr
# contract) exercised by NULLing c_custkey every %7. corr restated from
# the same five fused sums (never the engines' own corr(): Welford
# variants drift in the last ulp), rounded by the floor form.
# --------------------------------------------------------------------------
@register(
    "profile_correlations",
    sql="""
    WITH d AS (SELECT CAST(c_acctbal AS DOUBLE) AS a,
                      CAST(CASE WHEN c_custkey % 7 = 0 THEN NULL
                                ELSE c_custkey END AS DOUBLE) AS b,
                      CAST(c_nationkey AS DOUBLE) AS c
               FROM customer),
    s AS (SELECT
        CAST(count(CASE WHEN a IS NOT NULL AND b IS NOT NULL
                        THEN 1 END) AS DOUBLE) AS n0,
        sum(CASE WHEN a IS NOT NULL AND b IS NOT NULL THEN a END) AS sa0,
        sum(CASE WHEN a IS NOT NULL AND b IS NOT NULL THEN b END) AS sb0,
        sum(CASE WHEN a IS NOT NULL AND b IS NOT NULL THEN a * b END)
            AS sab0,
        sum(CASE WHEN a IS NOT NULL AND b IS NOT NULL THEN a * a END)
            AS saa0,
        sum(CASE WHEN a IS NOT NULL AND b IS NOT NULL THEN b * b END)
            AS sbb0,
        CAST(count(CASE WHEN a IS NOT NULL AND c IS NOT NULL
                        THEN 1 END) AS DOUBLE) AS n1,
        sum(CASE WHEN a IS NOT NULL AND c IS NOT NULL THEN a END) AS sa1,
        sum(CASE WHEN a IS NOT NULL AND c IS NOT NULL THEN c END) AS sb1,
        sum(CASE WHEN a IS NOT NULL AND c IS NOT NULL THEN a * c END)
            AS sab1,
        sum(CASE WHEN a IS NOT NULL AND c IS NOT NULL THEN a * a END)
            AS saa1,
        sum(CASE WHEN a IS NOT NULL AND c IS NOT NULL THEN c * c END)
            AS sbb1,
        CAST(count(CASE WHEN b IS NOT NULL AND c IS NOT NULL
                        THEN 1 END) AS DOUBLE) AS n2,
        sum(CASE WHEN b IS NOT NULL AND c IS NOT NULL THEN b END) AS sa2,
        sum(CASE WHEN b IS NOT NULL AND c IS NOT NULL THEN c END) AS sb2,
        sum(CASE WHEN b IS NOT NULL AND c IS NOT NULL THEN b * c END)
            AS sab2,
        sum(CASE WHEN b IS NOT NULL AND c IS NOT NULL THEN b * b END)
            AS saa2,
        sum(CASE WHEN b IS NOT NULL AND c IS NOT NULL THEN c * c END)
            AS sbb2
      FROM d)
    SELECT 'c_acctbal' AS col_a, 'c_custkey' AS col_b,
           CAST(n0 AS BIGINT) AS n,
           floor((CASE WHEN n0 >= 2 AND n0 * saa0 - sa0 * sa0 > 0
                        AND n0 * sbb0 - sb0 * sb0 > 0
                       THEN (n0 * sab0 - sa0 * sb0)
                            / sqrt(n0 * saa0 - sa0 * sa0)
                            / sqrt(n0 * sbb0 - sb0 * sb0) END)
                 * 1000000.0 + 0.5) / 1000000.0 AS corr
    FROM s
    UNION ALL
    SELECT 'c_acctbal', 'c_nationkey', CAST(n1 AS BIGINT),
           floor((CASE WHEN n1 >= 2 AND n1 * saa1 - sa1 * sa1 > 0
                        AND n1 * sbb1 - sb1 * sb1 > 0
                       THEN (n1 * sab1 - sa1 * sb1)
                            / sqrt(n1 * saa1 - sa1 * sa1)
                            / sqrt(n1 * sbb1 - sb1 * sb1) END)
                 * 1000000.0 + 0.5) / 1000000.0
    FROM s
    UNION ALL
    SELECT 'c_custkey', 'c_nationkey', CAST(n2 AS BIGINT),
           floor((CASE WHEN n2 >= 2 AND n2 * saa2 - sa2 * sa2 > 0
                        AND n2 * sbb2 - sb2 * sb2 > 0
                       THEN (n2 * sab2 - sa2 * sb2)
                            / sqrt(n2 * saa2 - sa2 * sa2)
                            / sqrt(n2 * sbb2 - sb2 * sb2) END)
                 * 1000000.0 + 0.5) / 1000000.0
    FROM s
    """,
)
def profile_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three column-pair Pearson correlations of the customer
    table in ONE fused aggregation (deferred — pytest-mirrored);
    c_custkey NULLed every %7 pins the pairwise-complete policy (each
    pair's n differs)."""
    from ..operators.profiling import correlation_matrix

    cust = load_table(spark, sf_dir, "customer").select(
        "c_acctbal",
        F.when(F.col("c_custkey") % 7 == 0, None)
        .otherwise(F.col("c_custkey"))
        .alias("c_custkey"),
        "c_nationkey",
    )
    return correlation_matrix(
        cust, ["c_acctbal", "c_custkey", "c_nationkey"]
    )


# --------------------------------------------------------------------------
# Lead-lag cross-correlation + trailing-window distinct rollup — the
# last two time-axis kernels: "does click volume LEAD purchase volume"
# (bucket-bounded lag fan-out + the correlation_matrix sums tree) and
# "distinct users per trailing 3 days, daily" (HLL register max-merge
# along a RANGE frame — mergeability applied to the time axis; the
# exact form is unpayable at 100 TB because every row feeds `trailing`
# overlapping windows).
# --------------------------------------------------------------------------
@register(
    "event_xcorr",
    sql="""
    WITH e AS (SELECT event_type,
                      CAST(floor(epoch(ts)) AS BIGINT) AS t
               FROM events),
    a AS (SELECT t - ((t % 3600 + 3600) % 3600) AS bucket,
                 CAST(count(*) AS DOUBLE) AS va
          FROM e WHERE event_type = 'click' GROUP BY 1),
    b AS (SELECT t - ((t % 3600 + 3600) % 3600) AS bucket,
                 CAST(count(*) AS DOUBLE) AS vb
          FROM e WHERE event_type = 'purchase' GROUP BY 1),
    fan AS (SELECT a.bucket, a.va, l.lag,
                   a.bucket + l.lag * 3600 AS tb
            FROM a CROSS JOIN
                 (SELECT unnest(generate_series(-3, 3)) AS lag) l),
    j AS (SELECT f.lag, f.va, b.vb
          FROM fan f JOIN b ON f.tb = b.bucket),
    s AS (SELECT lag, CAST(count(*) AS DOUBLE) AS n,
                 sum(va) AS sa, sum(vb) AS sb, sum(va * vb) AS sab,
                 sum(va * va) AS saa, sum(vb * vb) AS sbb
          FROM j GROUP BY lag)
    SELECT CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n,
           floor((CASE WHEN n >= 2 AND n * saa - sa * sa > 0
                        AND n * sbb - sb * sb > 0
                       THEN (n * sab - sa * sb)
                            / sqrt(n * saa - sa * sa)
                            / sqrt(n * sbb - sb * sb) END)
                 * 1000000.0 + 0.5) / 1000000.0 AS corr
    FROM s
    """,
)
def event_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly click-volume vs purchase-volume cross-correlation at
    lags -3..+3 (deferred — pytest-mirrored): integer counts as the
    series values keep every sum exact cross-engine; the corr division
    is the one float step, floor-rounded."""
    from ..operators.temporal import cross_correlation

    ev = load_table(spark, sf_dir, "events")
    base = ev.select("event_type", event_seconds(ev).alias("t"))

    def series(etype: str) -> DataFrame:
        t = F.col("t")
        return (
            base.filter(F.col("event_type") == etype)
            .select(
                (t - (((t % 3600) + 3600) % 3600)).alias("bucket")
            )
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("double").alias("value"))
        )

    return cross_correlation(
        series("click"), series("purchase"), [], width=3600, max_lag=3
    )


_SLW_M = 64
_SLW_WBITS = 60 - _SLW_M.bit_length() + 1  # 54
_SLW_MAXRHO = _SLW_WBITS + 1  # 55
_SLW_SCALE = float(
    (0.7213 / (1 + 1.079 / _SLW_M)) * _SLW_M * _SLW_M * (1 << _SLW_MAXRHO)
)


@register(
    "event_sliding_users",
    sql=f"""
    WITH e AS (SELECT event_type AS k,
                      CAST(floor(epoch(ts)) AS BIGINT) AS t,
                      user_id AS val
               FROM events),
    v AS (SELECT k, t - ((t % 86400 + 86400) % 86400) AS bucket, val
          FROM e),
    h AS (SELECT k, bucket,
                 CAST(('0x' || substr(md5('hll-v1:'
                       || CAST(val AS VARCHAR)), 1, 15)) AS BIGINT) AS hh
          FROM v),
    r AS (SELECT k, bucket, hh % {_SLW_M} AS reg,
                 hh // {_SLW_M} AS w FROM h),
    rho AS (SELECT k, bucket, reg,
                   CASE WHEN w = 0 THEN {_SLW_MAXRHO}
                        ELSE {_SLW_WBITS} - length(bin(w)) + 1 END AS rho
            FROM r),
    mx AS (SELECT k, bucket, reg, max(rho) AS M
           FROM rho GROUP BY 1, 2, 3),
    allg AS (SELECT DISTINCT k, bucket FROM v),
    regs AS (SELECT k, bucket, CAST(s.r AS BIGINT) AS reg
             FROM allg, unnest(generate_series(0, {_SLW_M - 1})) s(r)),
    filled AS (SELECT regs.k, regs.bucket, regs.reg,
                      coalesce(mx.M, 0) AS M
               FROM regs LEFT JOIN mx
                 ON mx.k = regs.k AND mx.bucket = regs.bucket
                AND mx.reg = regs.reg),
    win AS (SELECT k, bucket, reg,
                   max(M) OVER (PARTITION BY k, reg ORDER BY bucket
                                RANGE BETWEEN 172800 PRECEDING
                                AND CURRENT ROW) AS Mw
            FROM filled),
    z AS (SELECT k, bucket,
                 sum(1::BIGINT << CAST({_SLW_MAXRHO} - Mw AS INT))
                     AS zint,
                 CAST(sum(CASE WHEN Mw = 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_empty
          FROM win GROUP BY 1, 2)
    SELECT k AS event_type, bucket,
           round({_SLW_SCALE!r} / zint, 3) AS raw_est, n_empty
    FROM z
    """,
)
def event_sliding_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per trailing 3 days, daily, per event_type
    (deferred — pytest-mirrored): the deterministic-md5 HLL register
    table max-merged along a RANGE frame — bit-exact in SQL like every
    sketch row in this engine."""
    from ..operators.temporal import sliding_distinct_estimate

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type", event_seconds(ev).alias("t"), "user_id"
    )
    return sliding_distinct_estimate(
        e, ["event_type"], "t", "user_id", width=86400, trailing=3,
        m=_SLW_M,
    )


# --------------------------------------------------------------------------
# PSI timeline — "WHEN did the distribution move": per-time-bucket PSI
# against the frozen reference bins, the batch table between the
# two-snapshot drift_psi row and the streaming watch_table_drift. The
# fixture injects a drift that GROWS by day (value + day_index * 50),
# so the timeline must show rising psi.
# --------------------------------------------------------------------------
@register(
    "drift_psi_timeline",
    sql="""
    WITH e AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS t, value
               FROM events WHERE value IS NOT NULL),
    r AS (SELECT value::DOUBLE AS x FROM e),
    c AS (SELECT t - ((t % 86400 + 86400) % 86400) AS bucket,
                 (value + floor((t - 1704067200) / 86400.0) * 50)::DOUBLE
                     AS x
          FROM e),
    b AS (SELECT min(x) AS mn, max(x) AS mx FROM r),
    rb AS (SELECT CASE WHEN b.mx = b.mn THEN 0
                       ELSE least(9, greatest(0,
                            CAST(floor((x - b.mn) * 10 / (b.mx - b.mn))
                                 AS INT))) END AS bin,
                  count(*) AS cr
           FROM r, b GROUP BY 1),
    cb AS (SELECT bucket,
                  CASE WHEN b.mx = b.mn THEN 0
                       ELSE least(9, greatest(0,
                            CAST(floor((x - b.mn) * 10 / (b.mx - b.mn))
                                 AS INT))) END AS bin,
                  count(*) AS cc
           FROM c, b GROUP BY 1, 2),
    -- DENSE bucket spine between first and last observed bucket: an
    -- empty bucket (outage) emits an n_cur=0 row with psi NULL
    spine AS (SELECT unnest(generate_series(
                  (SELECT min(bucket) FROM cb),
                  (SELECT max(bucket) FROM cb), 86400)) AS bucket),
    spinebins AS (SELECT s.bucket, g.bin
                  FROM spine s,
                       (SELECT unnest(generate_series(0, 9)) AS bin) g),
    grid AS (SELECT s.bucket, s.bin,
                    coalesce(rb.cr, 0) AS cr, coalesce(cb.cc, 0) AS cc
             FROM spinebins s
             LEFT JOIN rb ON rb.bin = s.bin
             LEFT JOIN cb ON cb.bucket = s.bucket AND cb.bin = s.bin),
    tot AS (SELECT bucket, CAST(sum(cr) AS BIGINT) AS nr,
                   CAST(sum(cc) AS BIGINT) AS nc
            FROM grid GROUP BY bucket)
    SELECT 'value' AS col_name, g.bucket, 10 AS n_bins,
           t.nr AS n_ref, t.nc AS n_cur,
           CASE WHEN t.nc > 0 THEN
           round(sum(((cc + 0.5) / (t.nc + 5.0)
                      - (cr + 0.5) / (t.nr + 5.0))
                     * ln(((cc + 0.5) / (t.nc + 5.0))
                          / ((cr + 0.5) / (t.nr + 5.0)))), 6)
           END AS psi
    FROM grid g JOIN tot t ON t.bucket = g.bucket
    GROUP BY g.bucket, t.nr, t.nc
    """,
)
def drift_psi_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily PSI of a day-growing value shift against the frozen
    reference bins (deferred — pytest-mirrored): drift onset localizes
    to the day axis — early days stable, late days shifted."""
    from ..operators.drift import psi_timeline

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(event_seconds(ev).alias("t"), "value").filter(
        F.col("value").isNotNull()
    )
    cur = base.select(
        "t",
        (
            F.col("value")
            + F.floor((F.col("t") - 1704067200) / 86400.0) * 50
        ).alias("value"),
    )
    return psi_timeline(base, cur, "value", "t", width=86400, n_bins=10)


# --------------------------------------------------------------------------
# edit-distance similarity join (NEW r12): lossless q-gram count filter
# + banded-DP Levenshtein verify. The oracle is the DEFINITION — the
# full O(N^2) brute force (DuckDB's native levenshtein is the same
# classic edit distance as Spark's) — so the kernel's q-gram candidate
# pruning is value-proven lossless at sf0.01, not just pytest-scale.
# 60-char prefixes equalize lengths (tightening the count bound);
# prefixes shorter than the q*(d+1) = 21-char min-length contract are
# filtered IDENTICALLY on both the kernel input and the oracle, so the
# row is corpus-independent (a sub-21-char document would otherwise
# make the kernel refuse while the brute force kept it).
# --------------------------------------------------------------------------
@register(
    "dedup_edit_distance",
    sql="""
    WITH p AS (SELECT doc_id, substr(text, 1, 60) AS t
               FROM documents
               WHERE text IS NOT NULL
                 AND length(substr(text, 1, 60)) >= 21)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.t, b.t) AS INT) AS edit_distance
    FROM p a JOIN p b ON a.doc_id < b.doc_id
    WHERE levenshtein(a.t, b.t) <= 6
    """,
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs within Levenshtein distance 6 over their
    60-char prefixes (deferred — pytest-mirrored): the metric-ball
    similarity join the first-token-blocked ER row does not cover.
    Kernel: operators/dedup.edit_distance_pairs; mode="passjoin"
    pinned — the word-salad corpus is exactly the hot-gram case the
    segment/substring index exists for (the auto-gate picks it too;
    pinning keeps the bench row's plan deterministic)."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.substring("text", 1, 60).alias("text"))
        .filter(F.length("text") >= 21)
    )
    return dedup.edit_distance_pairs(
        docs, max_dist=6, q=3, mode="passjoin"
    )


# --------------------------------------------------------------------------
# heavy-hitter timeline (NEW r12): top_values per time bucket — the
# categorical WHEN-axis companion to drift_psi_timeline. The oracle
# restates the bucket floor, the (is_null, value) keying, and the
# deterministic (n DESC, is_null ASC, value ASC) tie order.
# --------------------------------------------------------------------------
@register(
    "profile_top_values_timeline",
    sql="""
    WITH e AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS t,
                      event_type, props
               FROM events),
    long AS (
        SELECT t - ((t % 86400 + 86400) % 86400) AS bucket,
               'event_type' AS col_name,
               event_type IS NULL AS is_null,
               coalesce(event_type, '') AS v
        FROM e
        UNION ALL
        SELECT t - ((t % 86400 + 86400) % 86400) AS bucket,
               'props' AS col_name,
               props IS NULL AS is_null,
               coalesce(props, '') AS v
        FROM e),
    counts AS (SELECT bucket, col_name, is_null, v,
                      CAST(count(*) AS BIGINT) AS n
               FROM long GROUP BY 1, 2, 3, 4),
    ranked AS (SELECT *,
                      row_number() OVER (
                          PARTITION BY bucket, col_name
                          ORDER BY n DESC, is_null ASC, v ASC
                      ) AS rank
               FROM counts)
    SELECT bucket, col_name,
           CASE WHEN is_null THEN NULL ELSE v END AS value,
           n, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 3
    """,
)
def profile_top_values_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily top-3 heavy hitters of event_type and props over the
    events stream (deferred — pytest-mirrored): WHEN did the category
    mix shift. Kernel: operators/profiling.top_values_timeline (one
    unpivot scan; downstream rows are buckets x cols x k)."""
    from ..operators.profiling import top_values_timeline

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(event_seconds(ev).alias("t"), "event_type", "props")
    return top_values_timeline(
        e, ["event_type", "props"], "t", width=86400, k=3
    )


# --------------------------------------------------------------------------
# expectation-suite inference (NEW r12): the discovery -> contract
# bridge. The oracle restates every inference rule per column (gated
# UNION ALL branches over one stats CTE); at sf0.01 the documents table
# exercises each rule class: doc_id (not_null+unique+range), text
# (not_null+unique), lang (not_null+in_set), source (not_null+in_set at
# EXACTLY the max_set_values boundary), n_chars (not_null+range).
# --------------------------------------------------------------------------
_INFER_COLS = [
    ("doc_id", True), ("text", False), ("lang", False),
    ("source", False), ("n_chars", True),
]


def _infer_oracle_sql() -> str:
    stats = ", ".join(
        f"count({c}) AS nn_{c}, count(DISTINCT {c}) AS nd_{c}, "
        + (
            f"CAST(min({c}) AS DOUBLE) AS mn_{c}, "
            f"CAST(max({c}) AS DOUBLE) AS mx_{c}"
            if num
            else f"NULL::DOUBLE AS mn_{c}, NULL::DOUBLE AS mx_{c}"
        )
        for c, num in _INFER_COLS
    )
    branches = []
    for c, num in _INFER_COLS:
        branches.append(
            f"SELECT '{c}' AS col_name, 'not_null' AS \"check\", "
            f"NULL::DOUBLE AS min_value, NULL::DOUBLE AS max_value, "
            f"NULL::VARCHAR AS allowed_values FROM stats "
            f"WHERE nn_{c} = n AND n > 0"
        )
        branches.append(
            f"SELECT '{c}', 'unique', NULL::DOUBLE, NULL::DOUBLE, "
            f"NULL::VARCHAR FROM stats WHERE nd_{c} = n AND n > 0"
        )
        if num:
            branches.append(
                f"SELECT '{c}', 'range', mn_{c}, mx_{c}, "
                f"NULL::VARCHAR FROM stats WHERE nn_{c} > 0"
            )
        branches.append(
            f"SELECT '{c}', 'in_set', NULL::DOUBLE, NULL::DOUBLE, "
            f"(SELECT string_agg(DISTINCT CAST({c} AS VARCHAR), ',' "
            f"ORDER BY CAST({c} AS VARCHAR)) FROM documents "
            f"WHERE {c} IS NOT NULL) "
            f"FROM stats WHERE nd_{c} BETWEEN 1 AND 20"
        )
    return (
        "WITH stats AS (SELECT count(*) AS n, " + stats
        + " FROM documents) " + " UNION ALL ".join(branches)
    )


@register("quality_infer_expectations", sql=_infer_oracle_sql())
def quality_infer_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inferred expectation suite over the documents table (deferred —
    pytest-mirrored): operators/expect.infer_expectations — profile
    once, freeze the suite, gate later drops. Self-consistency (the
    inferred suite passes check_expectations on the same table) is
    pytest-pinned."""
    from ..operators.expect import infer_expectations

    return infer_expectations(
        load_table(spark, sf_dir, "documents"),
        ["doc_id", "text", "lang", "source", "n_chars"],
    )


# --------------------------------------------------------------------------
# spelling-variant canonicalization (NEW r12): transitive closure over
# the edit-distance metric-ball graph — edit matches are not transitive
# ("aa"~"ab"~"bb" at d=1 but "aa"!~"bb"), so canonical groups are the
# CONNECTED COMPONENTS of the pair graph (the dedup_clusters kernel
# over the dedup_edit_distance edges). The oracle composes the brute-
# force pair definition into the same recursive closure CTE.
# --------------------------------------------------------------------------
@register(
    "dedup_edit_clusters",
    sql="""
    WITH RECURSIVE p AS (
        SELECT doc_id, substr(text, 1, 60) AS t
        FROM documents
        WHERE text IS NOT NULL
          AND length(substr(text, 1, 60)) >= 21),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM p a JOIN p b ON a.doc_id < b.doc_id
        WHERE levenshtein(a.t, b.t) <= 6),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION
        SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    reach(node, lbl) AS (
        SELECT u, u FROM edges
        UNION
        SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.node
    )
    SELECT node AS doc_id, min(lbl) AS cluster_id
    FROM reach GROUP BY node
    """,
)
def dedup_edit_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spelling-variant groups: connected components over the
    distance-6 edit-distance pair graph of 60-char prefixes (deferred
    — pytest-mirrored). Composes the PassJoin pair kernel with the
    pointer-propagation CC kernel the dedup_clusters driver row
    evidences."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.substring("text", 1, 60).alias("text"))
        .filter(F.length("text") >= 21)
    )
    pairs = dedup.edit_distance_pairs(
        docs, max_dist=6, q=3, mode="passjoin"
    ).select("doc_a", "doc_b")
    return dedup.connected_components(pairs, check_every=2)


# --------------------------------------------------------------------------
# LTTB chart decimation (NEW r12): fixed-anchor parallel form. Values
# are pre-scaled to exact integers (floor(v*100 + 0.5) — the cross-
# engine-exact floor form) so every bucket average is an exact-integer
# sum divided by a count: the area argmax then compares identical
# doubles on both engines and the pick is deterministic.
# --------------------------------------------------------------------------
@register(
    "event_lttb",
    sql="""
    WITH pts AS (
        SELECT event_type AS k,
               CAST(floor(epoch(ts)) AS BIGINT) AS t,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
        FROM events WHERE value IS NOT NULL),
    ranked AS (
        SELECT k, t, v,
               row_number() OVER (PARTITION BY k ORDER BY t, v) - 1 AS r,
               count(*) OVER (PARTITION BY k) AS n
        FROM pts),
    big AS (SELECT * FROM ranked WHERE n > 20),
    interior AS (
        SELECT *, CAST(floor((r - 1) * 18 / CAST(n - 2 AS DOUBLE))
                       AS BIGINT) AS b
        FROM big WHERE r > 0 AND r < n - 1),
    ends AS (SELECT * FROM big WHERE r = 0 OR r = n - 1),
    anchors AS (
        SELECT k, b, avg(t) AS at, avg(v) AS av
        FROM interior GROUP BY k, b
        UNION ALL
        SELECT k, CASE WHEN r = 0 THEN -1 ELSE 18 END AS b,
               CAST(t AS DOUBLE) AS at, CAST(v AS DOUBLE) AS av
        FROM ends),
    spans AS (
        SELECT k, b,
               lag(at) OVER w AS pt, lag(av) OVER w AS pv,
               lead(at) OVER w AS nt, lead(av) OVER w AS nv
        FROM anchors
        WINDOW w AS (PARTITION BY k ORDER BY b)),
    scored AS (
        SELECT i.k, i.t, i.v,
               abs((s.pt - s.nt) * (i.v - s.pv)
                   - (s.pt - i.t) * (s.nv - s.pv)) AS area,
               row_number() OVER (
                   PARTITION BY i.k, i.b
                   ORDER BY abs((s.pt - s.nt) * (i.v - s.pv)
                                - (s.pt - i.t) * (s.nv - s.pv)) DESC,
                            i.t ASC, i.v ASC) AS rk
        FROM interior i
        JOIN spans s ON s.k = i.k AND s.b = i.b
        WHERE s.b >= 0 AND s.b < 18)
    SELECT k AS event_type, t, CAST(v AS DOUBLE) AS value
    FROM ranked WHERE n <= 20
    UNION ALL
    SELECT k AS event_type, t, CAST(v AS DOUBLE) AS value FROM ends
    UNION ALL
    SELECT k AS event_type, t, CAST(v AS DOUBLE) AS value
    FROM scored WHERE rk = 1
    """,
)
def event_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-point LTTB decimation of each event_type's value series
    (deferred — pytest-mirrored): operators/temporal.lttb_downsample,
    the parallel fixed-anchor form, on exact-integer-scaled values so
    the area argmax is cross-engine deterministic."""
    from ..operators.temporal import lttb_downsample

    ev = load_table(spark, sf_dir, "events")
    pts = ev.filter(F.col("value").isNotNull()).select(
        "event_type",
        event_seconds(ev).alias("t"),
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("value"),
    )
    return lttb_downsample(
        pts, ["event_type"], "t", "value", 20
    ).select("event_type", "t", "value")


# --------------------------------------------------------------------------
# conversion attribution (NEW r12): linear-credit attribution of
# purchases to click/view touches inside a 1-day lookback. The oracle
# restates the half-open window, the unattributed NULL row, and the
# 1/n credit split.
# --------------------------------------------------------------------------
@register(
    "event_attribution",
    sql="""
    WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
                      event_type
               FROM events),
    conv AS (SELECT user_id, t AS conversion_ts,
                    row_number() OVER (PARTITION BY user_id, t
                                       ORDER BY t) AS conv_id
             FROM e WHERE event_type = 'purchase'),
    touch AS (SELECT user_id, event_type AS touch_type, t AS touch_ts
              FROM e WHERE event_type IN ('click', 'view')),
    joined AS (
        SELECT c.user_id, c.conversion_ts, c.conv_id,
               tt.touch_type, tt.touch_ts
        FROM conv c LEFT JOIN touch tt
          ON tt.user_id = c.user_id
         AND tt.touch_ts <= c.conversion_ts
         AND tt.touch_ts > c.conversion_ts - 86400)
    SELECT user_id, conversion_ts, touch_type, touch_ts,
           round(CASE WHEN touch_ts IS NULL THEN 1.0
                 ELSE 1.0 / count(touch_ts) OVER (
                     PARTITION BY user_id, conversion_ts, conv_id) END,
                 6) AS credit
    FROM joined
    """,
)
def event_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-credit attribution of purchases to click/view touches in
    a 1-day lookback (deferred — pytest-mirrored):
    operators/funnel.attribute_conversions — user-keyed equi join with
    the window as a join-time filter, credits over each conversion's
    own bounded touch set; unattributed conversions kept as NULL rows
    with credit 1.0."""
    from ..operators.funnel import attribute_conversions

    ev = load_table(spark, sf_dir, "events")
    e = ev.select("user_id", event_seconds(ev).alias("t"), "event_type")
    return attribute_conversions(
        e, "user_id", "t", "event_type",
        ["click", "view"], "purchase", 86400, model="linear",
    ).select(
        F.col("user").alias("user_id"),
        "conversion_ts", "touch_type", "touch_ts", "credit",
    )


# --------------------------------------------------------------------------
# fused equi-width histograms (NEW r12): the distribution-shape view of
# the profiling axis. The oracle restates the two-scan construction —
# bounds CTE, clamped floor binning, dense per-column bin spine with
# n=0 rows, last bin right-closed, 6-dp floor-form edges.
# --------------------------------------------------------------------------
@register(
    "profile_histogram",
    sql="""
    WITH b AS (
        SELECT min(CAST(n_chars AS DOUBLE)) AS mn_nc,
               max(CAST(n_chars AS DOUBLE)) AS mx_nc,
               min(CAST(doc_id AS DOUBLE)) AS mn_id,
               max(CAST(doc_id AS DOUBLE)) AS mx_id
        FROM documents),
    grid AS (
        SELECT 'n_chars' AS col_name, g.bin,
               floor((mn_nc + g.bin * (mx_nc - mn_nc) / 10) * 1e6
                     + 0.5) / 1e6 AS lo,
               floor((mn_nc + (g.bin + 1) * (mx_nc - mn_nc) / 10) * 1e6
                     + 0.5) / 1e6 AS hi,
               mn_nc AS mn, mx_nc AS mx
        FROM b, (SELECT unnest(generate_series(0, 9)) AS bin) g
        UNION ALL
        SELECT 'doc_id', g.bin,
               floor((mn_id + g.bin * (mx_id - mn_id) / 10) * 1e6
                     + 0.5) / 1e6,
               floor((mn_id + (g.bin + 1) * (mx_id - mn_id) / 10) * 1e6
                     + 0.5) / 1e6,
               mn_id, mx_id
        FROM b, (SELECT unnest(generate_series(0, 9)) AS bin) g),
    long AS (
        SELECT 'n_chars' AS col_name, CAST(n_chars AS DOUBLE) AS x,
               b.mn_nc AS mn, b.mx_nc AS mx
        FROM documents, b WHERE n_chars IS NOT NULL
        UNION ALL
        SELECT 'doc_id', CAST(doc_id AS DOUBLE), b.mn_id, b.mx_id
        FROM documents, b WHERE doc_id IS NOT NULL),
    binned AS (
        SELECT col_name,
               CASE WHEN mx = mn THEN 0
                    ELSE least(9, greatest(0,
                         CAST(floor((x - mn) * 10 / (mx - mn)) AS INT)))
               END AS bin,
               CAST(count(*) AS BIGINT) AS cnt
        FROM long GROUP BY 1, 2)
    SELECT g.col_name, CAST(g.bin AS INT) AS bin, g.lo, g.hi,
           coalesce(c.cnt, 0) AS n
    FROM grid g LEFT JOIN binned c
      ON c.col_name = g.col_name AND c.bin = g.bin
    """,
)
def profile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-bin equi-width histograms of n_chars and doc_id over the
    documents table in one fused binning scan (deferred —
    pytest-mirrored): operators/profiling.profile_histogram."""
    from ..operators.profiling import profile_histogram as hist

    return hist(
        load_table(spark, sf_dir, "documents"), ["n_chars", "doc_id"]
    )


# --------------------------------------------------------------------------
# per-key OLS trend (NEW r13): the "is this metric drifting" fit over
# daily event counts. Integer (x, y) make every moment sum exact int64;
# the oracle restates the centered cross terms and the three final
# divisions in the identical operand order, then the exact floor-round
# — so slope/intercept/r2 are bit-identical doubles cross-engine.
# --------------------------------------------------------------------------
@register(
    "event_trends",
    sql="""
    WITH daily AS (
        SELECT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2),
    m AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               sum(day) AS sx, sum(y) AS sy, sum(day * y) AS sxy,
               sum(day * day) AS sxx, sum(y * y) AS syy
        FROM daily GROUP BY 1),
    t AS (
        SELECT event_type, n,
               n * sxy - sx * sy AS lxy,
               n * sxx - sx * sx AS lxx,
               n * syy - sy * sy AS lyy,
               sx, sy
        FROM m)
    SELECT event_type, n,
           CASE WHEN lxx <> 0 THEN
               floor((CAST(lxy AS DOUBLE) / CAST(lxx AS DOUBLE))
                     * 1e6 + 0.5) / 1e6 END AS slope,
           CASE WHEN lxx <> 0 THEN
               floor(((CAST(sy AS DOUBLE)
                       - (CAST(lxy AS DOUBLE) / CAST(lxx AS DOUBLE))
                         * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE))
                     * 1e6 + 0.5) / 1e6 END AS intercept,
           CASE WHEN lxx <> 0 AND lyy <> 0 THEN
               floor(((CAST(lxy AS DOUBLE) * CAST(lxy AS DOUBLE))
                      / (CAST(lxx AS DOUBLE) * CAST(lyy AS DOUBLE)))
                     * 1e6 + 0.5) / 1e6 END AS r2
    FROM t
    """,
)
def event_trends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend of daily event volume (deferred —
    pytest-mirrored): operators/temporal.trend_ols over the
    (event_type, day)-count table. Two keyed aggregations total: the
    daily rollup shuffles on (type, day), the moment fit on type —
    never a window or per-key sort."""
    from ..operators.temporal import trend_ols

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select("event_type", event_seconds(ev).alias("_t"))
        # integer div (exact), matching the oracle's BIGINT // 86400 —
        # a double `/ 86400` could truncate one off at bucket edges
        .select("event_type", F.expr("_t div 86400").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    return trend_ols(daily, ["event_type"], "day", "y")


# --------------------------------------------------------------------------
# leakage-safe cluster split (NEW r13): near-dup clusters never straddle
# train/val. The oracle composes the dedup_clusters recursive-CTE CC
# definition with the text_split_assign md5 bucket rule, keyed on the
# COALESCED group id (CC label for clustered docs, own id for
# singletons).
# --------------------------------------------------------------------------
def _register_cluster_split() -> None:
    clusters_sql = _ORACLE["dedup_clusters"]
    register(
        "pipeline_cluster_split",
        sql=f"""
        WITH g AS (
            SELECT d.doc_id,
                   coalesce(c.cluster_id, d.doc_id) AS group_id
            FROM documents d LEFT JOIN ({clusters_sql}) c USING (doc_id))
        SELECT doc_id, group_id,
               CASE WHEN CAST(('0x' || substr(
                        md5('split-v1:' || CAST(group_id AS VARCHAR)),
                        1, 8)) AS BIGINT) % 100 < 10
                    THEN 'val' ELSE 'train' END AS split
        FROM g
        """,
    )(_pipeline_cluster_split)


def _pipeline_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val split (deferred — pytest-mirrored):
    operators/dedup.cluster_split over the exact-Jaccard near-dup pair
    graph — every member of a duplicate cluster lands in the same
    split, so no near-dup pair straddles the eval boundary. Composes
    the green dedup_clusters CC kernel with the split_assign md5 rule."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(docs, threshold=0.5)
    return dedup.cluster_split(docs, pairs, val_pct=10)


_register_cluster_split()


# --------------------------------------------------------------------------
# systematic PPS sampling (NEW r13): k picks per domain proportional to
# n_chars, exact int64 pin arithmetic on a deterministic md5-ordered
# number line. The oracle restates the cum-sum window, the domain
# total, and the integer-division pin test verbatim.
# --------------------------------------------------------------------------
@register(
    "text_sample_pps",
    sql="""
    WITH staged AS (
        SELECT doc_id, source AS domain,
               CAST(n_chars AS BIGINT) AS weight,
               sum(CAST(n_chars AS BIGINT)) OVER (
                   PARTITION BY source
                   ORDER BY md5('pps-v1:' || CAST(doc_id AS VARCHAR)),
                            doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum,
               sum(CAST(n_chars AS BIGINT)) OVER (
                   PARTITION BY source) AS tot
        FROM documents WHERE n_chars IS NOT NULL)
    SELECT doc_id, domain, weight,
           CAST((cum * 50) // tot - ((cum - weight) * 50) // tot
                AS BIGINT) AS n_picks
    FROM staged
    WHERE tot > 0
      AND (cum * 50) // tot - ((cum - weight) * 50) // tot >= 1
    """,
)
def text_sample_pps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """50 systematic PPS picks per source, weight = n_chars (deferred
    — pytest-mirrored): operators/text.sample_pps — the deterministic
    weighted draw between rate-based sample_by_domain and budgeted
    sample_exact_k. One domain-keyed window pass."""
    from ..operators.text import sample_pps

    return sample_pps(
        load_table(spark, sf_dir, "documents"), k=50,
        weight_col="n_chars",
    )


# --------------------------------------------------------------------------
# inter-gate agreement (NEW r13): multi-category Cohen's kappa between
# two rule-based quality gates — the labeling-audit statistic. The
# oracle restates the confusion counts, the DECIMAL/HUGEINT-exact pe
# numerator, and the three fixed-order divisions + floor rounds.
# --------------------------------------------------------------------------
@register(
    "quality_kappa",
    sql="""
    WITH lab AS (
        SELECT CASE WHEN n_chars >= 300 THEN 'pass' ELSE 'fail' END AS a,
               CASE WHEN length(text) - length(replace(text, ' ', ''))
                         + 1 >= 50
                    THEN 'pass' ELSE 'fail' END AS b
        FROM documents
        WHERE n_chars IS NOT NULL AND text IS NOT NULL),
    c AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n
          FROM lab GROUP BY 1, 2),
    tot AS (SELECT sum(n) AS t,
                   coalesce(sum(CASE WHEN a = b THEN n END), 0) AS diag
            FROM c),
    rm AS (SELECT a AS k, sum(n) AS ra FROM c GROUP BY 1),
    cm AS (SELECT b AS k, sum(n) AS cb FROM c GROUP BY 1),
    pe_num AS (SELECT sum(CAST(ra AS HUGEINT) * cb) AS num
               FROM rm JOIN cm USING (k)),
    stats AS (
        SELECT CAST(coalesce(t, 0) AS BIGINT) AS n,
               CAST(diag AS DOUBLE) / CAST(t AS DOUBLE) AS po,
               CAST(num AS DOUBLE)
                   / (CAST(t AS DOUBLE) * CAST(t AS DOUBLE)) AS pe
        FROM tot, pe_num)
    SELECT n,
           CASE WHEN n > 0 THEN floor(po * 1e6 + 0.5) / 1e6 END AS po,
           CASE WHEN n > 0 THEN floor(pe * 1e6 + 0.5) / 1e6 END AS pe,
           CASE WHEN n > 0 AND pe < 1.0 THEN
               floor(((po - pe) / (1.0 - pe)) * 1e6 + 0.5) / 1e6
           END AS kappa
    FROM stats
    """,
)
def quality_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the length gate (n_chars >= 300) and the
    word-count gate (>= 50 whitespace-split words) over documents
    (deferred — pytest-mirrored): operators/ranking.agreement_kappa —
    do two quality gates agree beyond their marginals."""
    from ..operators.ranking import agreement_kappa

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull() & F.col("text").isNotNull()
    )
    words = (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        + 1
    )
    lab = d.select(
        F.when(F.col("n_chars") >= 300, "pass").otherwise("fail").alias(
            "gate_len"
        ),
        F.when(words >= 50, "pass").otherwise("fail").alias("gate_words"),
    )
    return agreement_kappa(lab, "gate_len", "gate_words")


# --------------------------------------------------------------------------
# clickstream top paths (NEW r13): each user's first-5 event types in
# time order, counted, top-10. The oracle restates the rank window, the
# early rn <= 5 filter, the ordered string_agg, and the deterministic
# (n DESC, path ASC) tie order.
# --------------------------------------------------------------------------
@register(
    "event_top_paths",
    sql="""
    WITH e AS (
        SELECT user_id, event_type, event_id,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id
               ) AS rn
        FROM events),
    p AS (
        SELECT user_id,
               string_agg(event_type, '>' ORDER BY rn) AS path
        FROM e WHERE rn <= 5 GROUP BY user_id),
    counted AS (
        SELECT path, CAST(count(*) AS BIGINT) AS n_users
        FROM p GROUP BY path)
    SELECT path, n_users,
           CAST(row_number() OVER (
               ORDER BY n_users DESC, path ASC) AS INT) AS rank
    FROM counted
    QUALIFY rank <= 10
    """,
)
def event_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 opening 5-step event paths across users (deferred —
    pytest-mirrored): operators/funnel.top_paths — the clickstream
    "how do users actually move" table next to transition_matrix's
    one-step Markov view."""
    from ..operators.funnel import top_paths

    return top_paths(load_table(spark, sf_dir, "events"), 5, 10)


# --------------------------------------------------------------------------
# Theil-Sen robust trend (NEW r13): median pairwise slope over the same
# daily-count rollup as event_trends — where the two fits disagree is
# where the outliers are. The oracle restates the pair join, both
# interpolating medians (quantile_cont == percentile bit-for-bit, the
# value_outliers precedent), and the floor rounds.
# --------------------------------------------------------------------------
@register(
    "event_trends_robust",
    sql="""
    WITH daily AS (
        SELECT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2),
    pairs AS (
        SELECT a.event_type,
               (CAST(b.y AS DOUBLE) - CAST(a.y AS DOUBLE))
                   / (CAST(b.day AS DOUBLE) - CAST(a.day AS DOUBLE)) AS s
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.day < b.day),
    slopes AS (SELECT event_type, quantile_cont(s, 0.5) AS slope
               FROM pairs GROUP BY 1),
    resid AS (
        SELECT d.event_type, s.slope,
               CAST(d.y AS DOUBLE) - s.slope * CAST(d.day AS DOUBLE) AS r
        FROM daily d LEFT JOIN slopes s USING (event_type)),
    fits AS (SELECT event_type, slope, quantile_cont(r, 0.5) AS icept
             FROM resid GROUP BY 1, 2),
    sizes AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
              FROM daily GROUP BY 1)
    SELECT s.event_type, s.n,
           floor(f.slope * 1e6 + 0.5) / 1e6 AS slope,
           floor(f.icept * 1e6 + 0.5) / 1e6 AS intercept
    FROM sizes s LEFT JOIN fits f USING (event_type)
    """,
)
def event_trends_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type Theil-Sen trend of daily volume (deferred —
    pytest-mirrored): operators/temporal.trend_theil_sen over the same
    rollup as event_trends. The pair fan-out touches the bucket-grain
    table only (days x days per type), never raw events."""
    from ..operators.temporal import trend_theil_sen

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select("event_type", event_seconds(ev).alias("_t"))
        .select("event_type", F.expr("_t div 86400").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    return trend_theil_sen(daily, ["event_type"], "day", "y")


# --------------------------------------------------------------------------
# Mann-Kendall trend significance (NEW r13): is the monotone trend
# real? S and the tie-corrected variance numerator are exact int64; FP
# is the /18.0, the IEEE-exact sqrt, the z division, and the floor
# round — the oracle restates each in the identical order, and
# classifies trend on the UNROUNDED z exactly as the kernel does.
# --------------------------------------------------------------------------
@register(
    "event_trends_significance",
    sql="""
    WITH daily AS (
        SELECT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2),
    s_tab AS (
        SELECT a.event_type,
               sum(CAST(sign(b.y - a.y) AS BIGINT)) AS s_stat
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.day < b.day
        GROUP BY 1),
    ties AS (
        SELECT event_type,
               sum(t * (t - 1) * (2 * t + 5)) AS tie_term,
               sum(t) AS n
        FROM (SELECT event_type, y, CAST(count(*) AS BIGINT) AS t
              FROM daily GROUP BY 1, 2)
        GROUP BY 1),
    calc AS (
        SELECT t.event_type, CAST(t.n AS BIGINT) AS n,
               CAST(coalesce(s.s_stat, 0) AS BIGINT) AS s_stat,
               t.n * (t.n - 1) * (2 * t.n + 5) - t.tie_term AS var_num
        FROM ties t LEFT JOIN s_tab s USING (event_type)),
    zc AS (
        SELECT event_type, n, s_stat, var_num,
               CAST(var_num AS DOUBLE) / 18.0 AS var_s,
               CASE WHEN s_stat > 0 THEN
                        (CAST(s_stat AS DOUBLE) - 1.0)
                        / sqrt(CAST(var_num AS DOUBLE) / 18.0)
                    WHEN s_stat < 0 THEN
                        (CAST(s_stat AS DOUBLE) + 1.0)
                        / sqrt(CAST(var_num AS DOUBLE) / 18.0)
                    ELSE 0.0 END AS zraw
        FROM calc)
    SELECT event_type, n, s_stat,
           floor(var_s * 1e6 + 0.5) / 1e6 AS var_s,
           CASE WHEN var_num > 0
                THEN floor(zraw * 1e6 + 0.5) / 1e6 END AS z,
           CASE WHEN var_num > 0 THEN
               CASE WHEN zraw > 1.96 THEN 'increasing'
                    WHEN zraw < -1.96 THEN 'decreasing'
                    ELSE 'no_trend' END
           END AS trend
    FROM zc
    """,
)
def event_trends_significance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type Mann-Kendall test of daily volume (deferred —
    pytest-mirrored): operators/temporal.trend_mann_kendall over the
    same rollup as event_trends — the fit/robust-fit/significance
    triad of the trend axis."""
    from ..operators.temporal import trend_mann_kendall

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select("event_type", event_seconds(ev).alias("_t"))
        .select("event_type", F.expr("_t div 86400").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    return trend_mann_kendall(daily, ["event_type"], "day", "y")


# --------------------------------------------------------------------------
# CUSUM changepoint (NEW r13): WHERE did the level shift. The argmax
# compares the EXACT int64 statistic n*cum - i*total (no division in
# the comparison, ties break to the smallest x); the oracle restates
# the window pass and the single final division + floor round.
# --------------------------------------------------------------------------
@register(
    "event_changepoints",
    sql="""
    WITH daily AS (
        SELECT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2),
    staged AS (
        SELECT event_type, day,
               sum(y) OVER (PARTITION BY event_type ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY day) AS i,
               sum(y) OVER (PARTITION BY event_type) AS tot,
               CAST(count(*) OVER (PARTITION BY event_type)
                    AS BIGINT) AS n
        FROM daily),
    scored AS (
        SELECT event_type, day, n,
               abs(n * cum - i * tot) AS astat
        FROM staged WHERE i < n),
    best AS (
        SELECT event_type, day AS cp_x, n,
               floor((CAST(astat AS DOUBLE) / CAST(n AS DOUBLE))
                     * 1e6 + 0.5) / 1e6 AS cusum_max,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY astat DESC, day ASC) AS rk
        FROM scored),
    sizes AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
              FROM daily GROUP BY 1)
    SELECT s.event_type, s.n, b.cp_x, b.cusum_max
    FROM sizes s LEFT JOIN (SELECT * FROM best WHERE rk = 1) b
      USING (event_type)
    """,
)
def event_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type CUSUM changepoint of daily volume (deferred —
    pytest-mirrored): operators/temporal.trend_changepoint over the
    same rollup as event_trends — WHERE the level shifted, next to the
    triad's how-steep/is-it-real."""
    from ..operators.temporal import trend_changepoint

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select("event_type", event_seconds(ev).alias("_t"))
        .select("event_type", F.expr("_t div 86400").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    return trend_changepoint(daily, ["event_type"], "day", "y")


# --------------------------------------------------------------------------
# categorical mutual information (NEW r13): the dependency detector
# between candidate_keys (exact FD) and correlation_matrix (linear,
# numeric). The oracle restates the (is_null, value) keying and the
# ln(n) - sum(c*ln(c))/n entropy form in the identical operand order
# (the drift_js ln-then-round-6 cross-engine discipline).
# --------------------------------------------------------------------------
@register(
    "profile_mutual_info",
    sql="""
    WITH ab AS (
        SELECT lang IS NULL AS an, coalesce(lang, '') AS av,
               source IS NULL AS bn, coalesce(source, '') AS bv
        FROM documents),
    joint AS (SELECT an, av, bn, bv, CAST(count(*) AS BIGINT) AS c
              FROM ab GROUP BY 1, 2, 3, 4),
    sab AS (SELECT sum(c) AS n,
                   sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS s
            FROM joint),
    sa AS (SELECT sum(CAST(ca AS DOUBLE) * ln(CAST(ca AS DOUBLE))) AS s
           FROM (SELECT an, av, sum(c) AS ca FROM joint GROUP BY 1, 2)),
    sb AS (SELECT sum(CAST(cb AS DOUBLE) * ln(CAST(cb AS DOUBLE))) AS s
           FROM (SELECT bn, bv, sum(c) AS cb FROM joint GROUP BY 1, 2)),
    calc AS (
        SELECT CAST(coalesce(sab.n, 0) AS BIGINT) AS n,
               ln(CAST(sab.n AS DOUBLE)) - sa.s / CAST(sab.n AS DOUBLE)
                   AS h_a,
               ln(CAST(sab.n AS DOUBLE)) - sb.s / CAST(sab.n AS DOUBLE)
                   AS h_b,
               ln(CAST(sab.n AS DOUBLE)) - sab.s / CAST(sab.n AS DOUBLE)
                   AS h_ab
        FROM sab, sa, sb)
    SELECT n,
           CASE WHEN n > 0 THEN floor(h_a * 1e6 + 0.5) / 1e6 END AS h_a,
           CASE WHEN n > 0 THEN floor(h_b * 1e6 + 0.5) / 1e6 END AS h_b,
           CASE WHEN n > 0 THEN floor(h_ab * 1e6 + 0.5) / 1e6 END AS h_ab,
           CASE WHEN n > 0 THEN
               floor((h_a + h_b - h_ab) * 1e6 + 0.5) / 1e6 END AS mi,
           CASE WHEN n > 0 AND (h_a + h_b) > 0 THEN
               floor(((h_a + h_b - h_ab) / ((h_a + h_b) / 2.0))
                     * 1e6 + 0.5) / 1e6 END AS nmi
    FROM calc
    """,
)
def profile_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between lang and source over documents
    (deferred — pytest-mirrored): operators/profiling.
    mutual_information — how much one categorical column determines
    another, where candidate_keys sees only exact FDs and Pearson
    sees only numeric linearity."""
    from ..operators.profiling import mutual_information

    return mutual_information(
        load_table(spark, sf_dir, "documents"), "lang", "source"
    )


# --------------------------------------------------------------------------
# largest-remainder apportionment (NEW r13): mixture weights -> exact
# integer quotas, sum == k by construction. The oracle restates the
# floor/mod split, the (remainder DESC, domain ASC) top-up rank, and
# the zero-remainder exclusion — all exact int64.
# --------------------------------------------------------------------------
@register(
    "text_mix_apportion",
    sql="""
    WITH w AS (SELECT source AS domain,
                      CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT)
                          AS weight
               FROM documents WHERE n_chars IS NOT NULL
               GROUP BY 1),
    t AS (SELECT sum(weight) AS tot FROM w),
    base AS (
        SELECT domain, weight,
               CASE WHEN t.tot > 0
                    THEN (weight * 10000) // t.tot ELSE 0 END AS fl,
               CASE WHEN t.tot > 0
                    THEN (weight * 10000) % t.tot ELSE 0 END AS rem
        FROM w, t),
    ranked AS (
        SELECT *,
               row_number() OVER (ORDER BY rem DESC, domain ASC) AS rk,
               10000 - sum(fl) OVER () AS short
        FROM base)
    SELECT domain, weight,
           CAST(fl + CASE WHEN rk <= short AND rem > 0
                          THEN 1 ELSE 0 END AS BIGINT) AS quota
    FROM ranked
    """,
)
def text_mix_apportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10k-document budget apportioned across sources proportional to
    total n_chars (deferred — pytest-mirrored): operators/text.
    apportion_budget over the per-source rollup — Σ quota == k exactly
    where naive rounding drifts."""
    from ..operators.text import apportion_budget

    w = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("n_chars").isNotNull())
        .groupBy(F.col("source").alias("source"))
        .agg(F.sum(F.col("n_chars").cast("long")).alias("weight"))
    )
    return apportion_budget(w, 10_000)


# --------------------------------------------------------------------------
# corpus concentration (NEW r13): Gini + HHI + top-1 share of the
# domain distribution — the diversity pre-flight of the mixture
# planner. Exact int64 Gini numerator, DECIMAL/HUGEINT HHI numerator,
# three fixed-order divisions + floor rounds restated by the oracle.
# --------------------------------------------------------------------------
@register(
    "profile_concentration",
    sql="""
    WITH per AS (SELECT source AS d,
                        CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT)
                            AS w
                 FROM documents WHERE n_chars IS NOT NULL
                 GROUP BY 1),
    staged AS (
        SELECT d, w,
               row_number() OVER (ORDER BY w ASC, d ASC) AS i,
               CAST(count(*) OVER () AS BIGINT) AS n,
               CAST(sum(w) OVER () AS BIGINT) AS t,
               CAST(max(w) OVER () AS BIGINT) AS mx
        FROM per),
    agg AS (
        SELECT n, t, mx,
               sum((2 * i - n - 1) * w) AS gnum,
               sum(CAST(w AS HUGEINT) * w) AS sq
        FROM staged GROUP BY 1, 2, 3)
    SELECT n AS n_domains, t AS total,
           CASE WHEN t > 0 THEN
               floor((CAST(mx AS DOUBLE) / CAST(t AS DOUBLE))
                     * 1e6 + 0.5) / 1e6 END AS top1_share,
           CASE WHEN t > 0 THEN
               floor((CAST(sq AS DOUBLE)
                      / (CAST(t AS DOUBLE) * CAST(t AS DOUBLE)))
                     * 1e6 + 0.5) / 1e6 END AS hhi,
           CASE WHEN t > 0 THEN
               floor((CAST(gnum AS DOUBLE)
                      / (CAST(n AS DOUBLE) * CAST(t AS DOUBLE)))
                     * 1e6 + 0.5) / 1e6 END AS gini
    FROM agg
    """,
)
def profile_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini/HHI/top-1 concentration of n_chars across sources
    (deferred — pytest-mirrored): operators/profiling.concentration —
    how diverse the corpus actually is before mixture weights are
    chosen."""
    from ..operators.profiling import concentration

    return concentration(
        load_table(spark, sf_dir, "documents").filter(
            F.col("n_chars").isNotNull()
        ),
        "source",
        "n_chars",
    )


# --------------------------------------------------------------------------
# multi-rater agreement (NEW r14): Fleiss' kappa across THREE quality
# gates — the panel generalization of quality_kappa. Exact int64 panel
# sums, DECIMAL category-margin squares, three fixed-order divisions +
# floor rounds restated by the oracle.
# --------------------------------------------------------------------------
@register(
    "quality_fleiss_kappa",
    sql="""
    WITH base AS (
        SELECT doc_id, n_chars, text,
               length(text) - length(replace(text, ' ', '')) + 1
                   AS words
        FROM documents
        WHERE n_chars IS NOT NULL AND text IS NOT NULL),
    lab AS (
        SELECT doc_id AS i,
               CASE WHEN n_chars >= 300 THEN 'pass' ELSE 'fail' END AS j
        FROM base
        UNION ALL
        SELECT doc_id,
               CASE WHEN words >= 50 THEN 'pass' ELSE 'fail' END
        FROM base
        UNION ALL
        SELECT doc_id,
               CASE WHEN length(text) >= 800 THEN 'pass' ELSE 'fail' END
        FROM base),
    c AS (SELECT i, j, CAST(count(*) AS BIGINT) AS n
          FROM lab GROUP BY 1, 2),
    per_item AS (SELECT i, sum(n) AS r, sum(n * n) AS s2
                 FROM c GROUP BY 1),
    it AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
                  min(r) AS rr, sum(s2) AS s
           FROM per_item),
    cat AS (SELECT j, sum(n) AS cj FROM c GROUP BY 1),
    ct AS (SELECT CAST(count(*) AS BIGINT) AS n_cats,
                  sum(CAST(cj AS HUGEINT) * cj) AS sq
           FROM cat),
    stats AS (
        SELECT n_items, CAST(rr AS BIGINT) AS n_raters, n_cats,
               CAST(s - n_items * rr AS DOUBLE)
                   / ((CAST(n_items AS DOUBLE) * CAST(rr AS DOUBLE))
                      * (CAST(rr AS DOUBLE) - 1.0)) AS pbar,
               CAST(sq AS DOUBLE)
                   / ((CAST(n_items AS DOUBLE) * CAST(rr AS DOUBLE))
                      * (CAST(n_items AS DOUBLE) * CAST(rr AS DOUBLE)))
                   AS pe
        FROM it, ct)
    SELECT n_items, n_raters, n_cats AS n_categories,
           floor(pbar * 1e6 + 0.5) / 1e6 AS pbar,
           floor(pe * 1e6 + 0.5) / 1e6 AS pe,
           CASE WHEN pe < 1.0 THEN
               floor(((pbar - pe) / (1.0 - pe)) * 1e6 + 0.5) / 1e6
           END AS kappa
    FROM stats
    """,
)
def quality_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa across a 3-gate quality panel (length / word
    count / raw length-800) over documents (deferred —
    pytest-mirrored): operators/ranking.fleiss_kappa — do the three
    gates agree as a PANEL beyond what their marginals force. Constant
    r = 3 by construction (every gate rates every doc)."""
    from ..operators.ranking import fleiss_kappa

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull() & F.col("text").isNotNull()
    )
    words = (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        + 1
    )
    lab = (
        d.select(
            F.col("doc_id").alias("item"),
            F.when(F.col("n_chars") >= 300, "pass")
            .otherwise("fail")
            .alias("rating"),
        )
        .unionAll(
            d.select(
                F.col("doc_id").alias("item"),
                F.when(words >= 50, "pass").otherwise("fail").alias(
                    "rating"
                ),
            )
        )
        .unionAll(
            d.select(
                F.col("doc_id").alias("item"),
                F.when(F.length("text") >= 800, "pass")
                .otherwise("fail")
                .alias("rating"),
            )
        )
    )
    return fleiss_kappa(lab, "item", "rating")


# --------------------------------------------------------------------------
# association effect size (NEW r14): chi-square + Cramér's V of the
# (source × lang) contingency — the normalized dependency strength
# next to profile_mutual_info. The oracle restates the margin joins,
# the zero-cell-free Σo²/(ra·cb) identity, the φ² clamp, and the
# fixed-order divisions + floor rounds.
# --------------------------------------------------------------------------
@register(
    "profile_cramers_v",
    sql="""
    WITH ab AS (
        SELECT (source IS NULL) AS an,
               coalesce(CAST(source AS VARCHAR), '') AS av,
               (lang IS NULL) AS bn,
               coalesce(CAST(lang AS VARCHAR), '') AS bv
        FROM documents),
    joint AS (SELECT an, av, bn, bv, CAST(count(*) AS BIGINT) AS c
              FROM ab GROUP BY 1, 2, 3, 4),
    ma AS (SELECT an, av, sum(c) AS ra FROM joint GROUP BY 1, 2),
    mb AS (SELECT bn, bv, sum(c) AS cb FROM joint GROUP BY 1, 2),
    cells AS (SELECT j.c, ma.ra, mb.cb
              FROM joint j
              JOIN ma USING (an, av)
              JOIN mb USING (bn, bv)),
    agg AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                   sum((CAST(c AS DOUBLE) * CAST(c AS DOUBLE))
                       / CAST(CAST(ra AS HUGEINT) * cb AS DOUBLE))
                       AS st
            FROM cells),
    lv AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM ma) AS al,
                  (SELECT CAST(count(*) AS BIGINT) FROM mb) AS bl),
    stats AS (SELECT n, al, bl,
                     greatest(st - 1.0, 0.0) AS phi2,
                     CAST(least(al - 1, bl - 1) AS DOUBLE) AS k
              FROM agg, lv)
    SELECT n, al AS a_levels, bl AS b_levels,
           CASE WHEN n > 0 THEN
               floor((CAST(n AS DOUBLE) * phi2) * 1e6 + 0.5) / 1e6
           END AS chi2,
           CASE WHEN n > 0 AND k > 0 THEN
               floor(sqrt(phi2 / k) * 1e6 + 0.5) / 1e6
           END AS v
    FROM stats
    """,
)
def profile_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V of (source × lang) over documents (deferred —
    pytest-mirrored): operators/profiling.cramers_v — how STRONGLY
    does source determine language, on the same [0,1] scale for any
    table size."""
    from ..operators.profiling import cramers_v

    return cramers_v(
        load_table(spark, sf_dir, "documents"), "source", "lang"
    )


# --------------------------------------------------------------------------
# time-to-convert profile (NEW r14): per-channel conversion-lag
# distribution of the last-touch attribution — exact type-1 quantiles
# on the (channel, lag) GRAIN (bounded by lookback_s, never
# per-conversion rows). The oracle restates the last-touch rank, the
# grain collapse, and the integer cum·b >= a·n quantile pick.
# --------------------------------------------------------------------------
@register(
    "event_conversion_lag",
    sql="""
    WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
                      event_type
               FROM events),
    conv AS (SELECT user_id, t AS conversion_ts,
                    row_number() OVER (PARTITION BY user_id, t
                                       ORDER BY t) AS conv_id
             FROM e WHERE event_type = 'purchase'),
    touch AS (SELECT user_id, event_type AS touch_type, t AS touch_ts
              FROM e WHERE event_type IN ('click', 'view')),
    joined AS (
        SELECT c.user_id, c.conversion_ts, c.conv_id,
               tt.touch_type, tt.touch_ts
        FROM conv c LEFT JOIN touch tt
          ON tt.user_id = c.user_id
         AND tt.touch_ts <= c.conversion_ts
         AND tt.touch_ts > c.conversion_ts - 86400),
    ranked AS (
        SELECT touch_type, conversion_ts, touch_ts,
               CASE WHEN touch_ts IS NULL THEN 1
                    ELSE row_number() OVER (
                        PARTITION BY user_id, conversion_ts, conv_id
                        ORDER BY touch_ts DESC, touch_type ASC)
               END AS rn
        FROM joined),
    lastt AS (SELECT touch_type,
                     CASE WHEN touch_ts IS NULL THEN NULL
                          ELSE conversion_ts - touch_ts END AS lag
              FROM ranked WHERE rn = 1),
    grain AS (SELECT touch_type, lag, CAST(count(*) AS BIGINT) AS c
              FROM lastt GROUP BY 1, 2),
    staged AS (SELECT touch_type, lag, c,
                      sum(c) OVER (PARTITION BY touch_type
                                   ORDER BY lag ASC
                                   ROWS UNBOUNDED PRECEDING) AS cum,
                      sum(c) OVER (PARTITION BY touch_type) AS n,
                      sum(c * lag) OVER (PARTITION BY touch_type) AS s
               FROM grain),
    per AS (SELECT touch_type,
                   CAST(max(n) AS BIGINT) AS n_conversions,
                   max(s) AS s,
                   min(CASE WHEN cum * 2 >= n THEN lag END) AS p50,
                   min(CASE WHEN cum * 10 >= n * 9 THEN lag END) AS p90
            FROM staged GROUP BY 1)
    SELECT touch_type, n_conversions,
           CASE WHEN s IS NOT NULL THEN
               floor((CAST(s AS DOUBLE)
                      / CAST(n_conversions AS DOUBLE)) * 1e6 + 0.5)
                   / 1e6
           END AS mean_lag_s,
           CAST(p50 AS BIGINT) AS p50_lag_s,
           CAST(p90 AS BIGINT) AS p90_lag_s
    FROM per
    """,
)
def event_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-channel click/view -> purchase latency profile in a 1-day
    lookback (deferred — pytest-mirrored):
    operators/funnel.conversion_lag — exact p50/p90/mean of the
    last-touch lag on the lookback-bounded (channel, lag) grain."""
    from ..operators.funnel import conversion_lag

    ev = load_table(spark, sf_dir, "events")
    e = ev.select("user_id", event_seconds(ev).alias("t"), "event_type")
    return conversion_lag(
        e, "user_id", "t", "event_type",
        ["click", "view"], "purchase", 86400,
    )


# --------------------------------------------------------------------------
# classifier calibration (NEW r14): reliability bins + ECE/MCE/Brier of
# a deterministic md5-derived probability (label drawn with P(y=1) ~
# score, so the curve is near-diagonal and every stat non-trivial).
# Scores are read at 6-dp fixed point, so conf/ECE/Brier numerators
# are EXACT integer sums — the oracle restates them bit-for-bit.
# --------------------------------------------------------------------------
_CAL_SRC = """
    WITH s AS (
        SELECT (CAST(('0x' || substr(md5('cal-v1:'
                      || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                % 1024) AS k1,
               (CAST(('0x' || substr(md5('lab-v1:'
                      || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                % 1024) AS k2
        FROM documents),
    b AS (SELECT CAST(k1 AS DOUBLE) / 1024.0 AS score,
                 CASE WHEN k2 < k1 THEN 1 ELSE 0 END AS y
          FROM s),
    binned AS (SELECT least(CAST(floor(score * 10) AS BIGINT), 9)
                          AS bin,
                      CAST(floor(score * 1e6 + 0.5) AS BIGINT) AS fp,
                      y
               FROM b),
    agg AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(y) AS BIGINT) AS pos,
                   CAST(sum(fp) AS BIGINT) AS sfp,
                   sum(CAST(fp - 1000000 * y AS HUGEINT)
                       * (fp - 1000000 * y)) AS bnum
            FROM binned GROUP BY 1)
"""


@register(
    "quality_calibration_bins",
    sql=_CAL_SRC
    + """
    SELECT bin,
           floor((CAST(bin AS DOUBLE) / 10.0) * 1e6 + 0.5) / 1e6 AS lo,
           floor((CAST(bin + 1 AS DOUBLE) / 10.0) * 1e6 + 0.5) / 1e6
               AS hi,
           n,
           floor((CAST(sfp AS DOUBLE)
                  / (CAST(n AS DOUBLE) * 1000000.0)) * 1e6 + 0.5) / 1e6
               AS conf,
           floor((CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)) * 1e6 + 0.5)
               / 1e6 AS acc
    FROM agg
    """,
)
def quality_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table (10 bins) of the md5-derived score/label pair
    over documents (deferred — pytest-mirrored):
    operators/ranking.calibration_report."""
    from ..operators.ranking import calibration_report

    return calibration_report(_cal_frame(spark, sf_dir), "score", "y")


@register(
    "quality_calibration",
    sql=_CAL_SRC
    + """,
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
                   CAST(count(*) AS BIGINT) AS occ,
                   CAST(sum(abs(pos * 1000000 - sfp)) AS BIGINT)
                       AS enum_,
                   max(CAST(abs(pos * 1000000 - sfp) AS DOUBLE)
                       / (CAST(n AS DOUBLE) * 1000000.0)) AS mce,
                   sum(bnum) AS bsum
            FROM agg)
    SELECT nt AS n, CAST(10 AS BIGINT) AS n_bins, occ AS n_occupied,
           CASE WHEN nt > 0 THEN
               floor((CAST(enum_ AS DOUBLE)
                      / (CAST(nt AS DOUBLE) * 1000000.0)) * 1e6 + 0.5)
                   / 1e6
           END AS ece,
           CASE WHEN nt > 0 THEN floor(mce * 1e6 + 0.5) / 1e6
           END AS mce,
           CASE WHEN nt > 0 THEN
               floor((CAST(bsum AS DOUBLE)
                      / (CAST(nt AS DOUBLE) * 1e12)) * 1e6 + 0.5) / 1e6
           END AS brier
    FROM tot
    """,
)
def quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ECE / MCE / Brier of the md5-derived score/label pair over
    documents (deferred — pytest-mirrored):
    operators/ranking.calibration_summary — is the quality
    classifier's probability trustworthy before gates are sized on
    it."""
    from ..operators.ranking import calibration_summary

    return calibration_summary(_cal_frame(spark, sf_dir), "score", "y")


def _cal_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic (score, y) pair: score = (md5 % 1024)/1024 (exact
    binary fraction), y ~ Bernoulli(score) via an independent md5."""
    d = load_table(spark, sf_dir, "documents")
    h = lambda salt: (  # noqa: E731
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 1024
    )
    return d.select(
        (h("cal-v1:").cast("double") / F.lit(1024.0)).alias("score"),
        F.when(h("lab-v1:") < h("cal-v1:"), 1).otherwise(0).alias("y"),
    )


# --------------------------------------------------------------------------
# clustering evaluation (NEW r14): pairwise precision/recall/F1 + ARI
# of the exact-dup clustering against the 60-char-prefix clustering —
# all pair counting on GROUP SIZES via Σ C(m,2), no pair join. The
# oracle restates the joint/margin rollups, the exact integer-half
# C(m,2), the HUGEINT ARI cross product, and the fixed-order
# divisions + floor rounds.
# --------------------------------------------------------------------------
@register(
    "entity_eval_pairwise",
    sql="""
    WITH lab AS (
        SELECT md5(lower(trim(text))) AS p,
               md5(substr(lower(trim(text)), 1, 60)) AS t
        FROM documents WHERE text IS NOT NULL),
    joint AS (SELECT p, t, CAST(count(*) AS BIGINT) AS m
              FROM lab GROUP BY 1, 2),
    tp_tot AS (SELECT CAST(sum(m) AS BIGINT) AS n,
                      CAST(sum((m * (m - 1)) // 2) AS BIGINT) AS tp
               FROM joint),
    pm AS (SELECT CAST(count(*) AS BIGINT) AS npred,
                  CAST(sum((mp * (mp - 1)) // 2) AS BIGINT) AS pp
           FROM (SELECT sum(m) AS mp FROM joint GROUP BY p)),
    tm AS (SELECT CAST(count(*) AS BIGINT) AS ntruth,
                  CAST(sum((mt * (mt - 1)) // 2) AS BIGINT) AS pt
           FROM (SELECT sum(m) AS mt FROM joint GROUP BY t)),
    stats AS (
        SELECT n, npred, ntruth, tp, pp, pt,
               pp - tp AS fp, pt - tp AS fn,
               CAST(tp AS DOUBLE) / CAST(pp AS DOUBLE) AS prec,
               CAST(tp AS DOUBLE) / CAST(pt AS DOUBLE) AS rec,
               (n * (n - 1)) // 2 AS npairs,
               CAST(CAST(pp AS HUGEINT) * pt AS DOUBLE)
                   / CAST((n * (n - 1)) // 2 AS DOUBLE) AS exp_,
               CAST(pp + pt AS DOUBLE) / 2.0 AS max_
        FROM tp_tot, pm, tm)
    SELECT n AS n_items, npred AS pred_clusters,
           ntruth AS truth_clusters,
           CASE WHEN n > 0 THEN tp END AS tp,
           CASE WHEN n > 0 THEN fp END AS fp,
           CASE WHEN n > 0 THEN fn END AS fn,
           CASE WHEN n > 0 AND pp > 0 THEN
               floor(prec * 1e6 + 0.5) / 1e6 END AS precision,
           CASE WHEN n > 0 AND pt > 0 THEN
               floor(rec * 1e6 + 0.5) / 1e6 END AS recall,
           CASE WHEN n > 0 AND pp > 0 AND pt > 0
                AND (prec + rec) > 0 THEN
               floor((2.0 * (prec * rec) / (prec + rec)) * 1e6 + 0.5)
                   / 1e6 END AS f1,
           CASE WHEN n > 0 AND npairs > 0 AND max_ != exp_ THEN
               floor(((CAST(tp AS DOUBLE) - exp_) / (max_ - exp_))
                     * 1e6 + 0.5) / 1e6 END AS ari
    FROM stats
    """,
)
def entity_eval_pairwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise P/R/F1 + ARI of exact-dup clusters vs 60-char-prefix
    clusters over documents (deferred — pytest-mirrored):
    operators/entity.pairwise_cluster_eval — how much a prefix-only
    dedup key would over-merge, graded without materializing a single
    pair."""
    from ..operators.entity import pairwise_cluster_eval

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    norm = F.lower(F.trim(F.col("text")))
    lab = d.select(
        F.md5(norm).alias("pred"),
        F.md5(F.substring(norm, 1, 60)).alias("truth"),
    )
    return pairwise_cluster_eval(lab, "pred", "truth")


# --------------------------------------------------------------------------
# data freshness (NEW r14): per-event-type watermark audit — pure
# int64 min/max/count with a derived as-of (global max over the
# key-sized rollup). The streaming twin (watch_freshness, the 26th
# watcher) merges the identical rollup and ends in the same finish.
# --------------------------------------------------------------------------
@register(
    "event_freshness",
    sql="""
    WITH e AS (SELECT event_type,
                      CAST(floor(epoch(ts)) AS BIGINT) AS t
               FROM events),
    roll AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
                    min(t) AS first_ts, max(t) AS last_ts
             FROM e WHERE t IS NOT NULL GROUP BY 1)
    SELECT event_type, n_events, first_ts, last_ts,
           CAST((SELECT max(last_ts) FROM roll) - last_ts AS BIGINT)
               AS staleness_s
    FROM roll
    """,
)
def event_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type freshness/staleness vs the stream's own
    watermark (deferred — pytest-mirrored):
    operators/temporal.freshness_report — which event families have
    gone quiet before a snapshot is cut."""
    from ..operators.temporal import freshness_report

    ev = load_table(spark, sf_dir, "events")
    e = ev.select("event_type", event_seconds(ev).alias("t"))
    return freshness_report(e, ["event_type"], "t")


# --------------------------------------------------------------------------
# inter-event burstiness (NEW r14): the per-user bot screen — gap
# moment sums exact int64/HUGEINT, population variance as ONE
# fixed-order division, Goh-Barabási burstiness on the IEEE sqrt.
# --------------------------------------------------------------------------
@register(
    "event_burstiness",
    sql="""
    WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
                      event_id
               FROM events),
    g AS (SELECT user_id,
                 count(*) OVER (PARTITION BY user_id) AS n,
                 t - lag(t) OVER (PARTITION BY user_id
                                  ORDER BY t, event_id) AS d
          FROM e),
    agg AS (SELECT user_id, CAST(max(n) AS BIGINT) AS n_events,
                   CAST(count(d) AS BIGINT) AS ng,
                   CAST(sum(d) AS BIGINT) AS sd,
                   sum(CAST(d AS HUGEINT) * d) AS sd2
            FROM g GROUP BY 1),
    st AS (SELECT user_id, n_events, ng,
                  CAST(sd AS DOUBLE) / CAST(ng AS DOUBLE) AS mean,
                  CAST(sd2 * ng - CAST(sd AS HUGEINT) * sd AS DOUBLE)
                      / (CAST(ng AS DOUBLE) * CAST(ng AS DOUBLE))
                      AS var
           FROM agg)
    SELECT user_id, n_events, ng AS n_gaps,
           CASE WHEN ng > 0 THEN floor(mean * 1e6 + 0.5) / 1e6
           END AS mean_gap_s,
           CASE WHEN ng > 0 THEN floor(var * 1e6 + 0.5) / 1e6
           END AS var_gap_s,
           CASE WHEN ng > 0 AND (sqrt(var) + mean) > 0 THEN
               floor(((sqrt(var) - mean) / (sqrt(var) + mean))
                     * 1e6 + 0.5) / 1e6
           END AS burstiness
    FROM st
    """,
)
def event_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event burstiness over events (deferred —
    pytest-mirrored): operators/funnel.inter_event_profile — the bot
    screen a UGC training-data pipeline runs before trusting user
    text."""
    from ..operators.funnel import inter_event_profile

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id", event_seconds(ev).alias("t"), "event_id"
    )
    return inter_event_profile(e, "user_id", "t")


# --------------------------------------------------------------------------
# stratified sampling capstone (NEW r14): Hamilton quotas by n_chars
# mass + the deterministic md5 per-domain draw, composed as ONE DAG.
# The oracle restates the apportionment (floor/mod split, remainder
# rank, top-up) and the rank-filtered draw verbatim.
# --------------------------------------------------------------------------
@register(
    "text_sample_stratified",
    sql="""
    WITH w AS (SELECT source AS domain,
                      CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT)
                          AS weight
               FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
    t AS (SELECT domain, weight,
                 (SELECT sum(weight) FROM w) AS tot
          FROM w),
    base AS (SELECT domain, weight,
                    CASE WHEN tot > 0 THEN (weight * 1000) // tot
                         ELSE 0 END AS fl,
                    CASE WHEN tot > 0 THEN (weight * 1000) % tot
                         ELSE 0 END AS rem
             FROM t),
    q AS (SELECT domain,
                 fl + CASE WHEN rk <= short AND rem > 0 THEN 1
                      ELSE 0 END AS quota
          FROM (SELECT domain, fl, rem,
                       row_number() OVER (ORDER BY rem DESC,
                                          domain ASC) AS rk,
                       1000 - (SELECT sum(fl) FROM base) AS short
                FROM base)),
    ranked AS (SELECT doc_id, source,
                      row_number() OVER (
                          PARTITION BY source
                          ORDER BY md5('strat-v1:'
                                       || CAST(doc_id AS VARCHAR)),
                                   doc_id) AS rk
               FROM documents)
    SELECT r.doc_id, r.source
    FROM ranked r JOIN q ON r.source = q.domain
    WHERE r.rk <= q.quota
    """,
)
def text_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1000-document stratified sample proportional to each source's
    n_chars mass (deferred — pytest-mirrored):
    operators/text.sample_stratified — Hamilton quotas + the
    deterministic md5 draw in one DAG."""
    from ..operators.text import sample_stratified

    return sample_stratified(
        load_table(spark, sf_dir, "documents"),
        k=1000,
        weight_col="n_chars",
    ).select("doc_id", "source")


# --------------------------------------------------------------------------
# Kaplan-Meier survival (NEW r14): the churn curve with watermark
# censoring — exact int64 lifetimes/risk suffix sums, the product
# limit as exp(Σ ln(1 − d/n)) under the ln-round-6 discipline, the
# all-die bucket branched to an exact 0.0 (never ln(0)).
# --------------------------------------------------------------------------
@register(
    "event_survival",
    sql="""
    WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t
               FROM events),
    per AS (SELECT user_id, min(t) AS f, max(t) AS l
            FROM e WHERE t IS NOT NULL GROUP BY 1),
    wm AS (SELECT max(l) AS w FROM per),
    lab AS (SELECT (l - f) // 3600 AS b,
                   (l + 0 >= (SELECT w FROM wm)) AS cens
            FROM per),
    grain AS (SELECT b,
                     CAST(sum(CASE WHEN NOT cens THEN 1 ELSE 0 END)
                          AS BIGINT) AS d,
                     CAST(sum(CASE WHEN cens THEN 1 ELSE 0 END)
                          AS BIGINT) AS c
              FROM lab GROUP BY 1),
    staged AS (SELECT b, d, c,
                      CAST(sum(d + c) OVER (ORDER BY b DESC
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n,
                      CAST(count(*) OVER () AS BIGINT) AS nb
               FROM grain),
    fin AS (SELECT b, d, c, n, nb,
                   sum(CASE WHEN d > 0 AND d <> n THEN
                           ln(1.0 - CAST(d AS DOUBLE)
                                    / CAST(n AS DOUBLE))
                       ELSE 0.0 END)
                       OVER (ORDER BY b ASC ROWS UNBOUNDED PRECEDING)
                       AS lncum,
                   min(CASE WHEN d = n THEN b END) OVER () AS zf
            FROM staged)
    SELECT b AS bucket, CAST(b * 3600 AS BIGINT) AS t_lo_s,
           n AS n_risk, d AS n_deaths, c AS n_censored,
           CASE WHEN zf IS NOT NULL AND b >= zf THEN 0.0
                ELSE floor(exp(lncum) * 1e6 + 0.5) / 1e6
           END AS survival,
           nb AS n_buckets
    FROM fin
    """,
)
def event_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier user survival over events at hourly lifetime
    buckets, watermark-censored (deferred — pytest-mirrored):
    operators/funnel.survival_curve — what fraction of users are
    still active after k hours, without the churned-at-the-edge
    bias."""
    from ..operators.funnel import survival_curve

    ev = load_table(spark, sf_dir, "events")
    e = ev.select("user_id", event_seconds(ev).alias("t"))
    return survival_curve(e, "user_id", "t", 3600)


# --------------------------------------------------------------------------
# Theil's U (NEW r14): the DIRECTIONAL dependency — U(a|b) = MI/H(a),
# asymmetric where MI/V are symmetric. Same entropy CTEs as the MI
# oracle plus two fixed-order divisions on the unrounded values.
# --------------------------------------------------------------------------
@register(
    "profile_theils_u",
    sql="""
    WITH ab AS (
        SELECT lang IS NULL AS an, coalesce(lang, '') AS av,
               source IS NULL AS bn, coalesce(source, '') AS bv
        FROM documents),
    joint AS (SELECT an, av, bn, bv, CAST(count(*) AS BIGINT) AS c
              FROM ab GROUP BY 1, 2, 3, 4),
    sab AS (SELECT sum(c) AS n,
                   sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS s
            FROM joint),
    sa AS (SELECT sum(CAST(ca AS DOUBLE) * ln(CAST(ca AS DOUBLE))) AS s
           FROM (SELECT an, av, sum(c) AS ca FROM joint GROUP BY 1, 2)),
    sb AS (SELECT sum(CAST(cb AS DOUBLE) * ln(CAST(cb AS DOUBLE))) AS s
           FROM (SELECT bn, bv, sum(c) AS cb FROM joint GROUP BY 1, 2)),
    calc AS (
        SELECT CAST(coalesce(sab.n, 0) AS BIGINT) AS n,
               ln(CAST(sab.n AS DOUBLE)) - sa.s / CAST(sab.n AS DOUBLE)
                   AS h_a,
               ln(CAST(sab.n AS DOUBLE)) - sb.s / CAST(sab.n AS DOUBLE)
                   AS h_b,
               ln(CAST(sab.n AS DOUBLE)) - sab.s / CAST(sab.n AS DOUBLE)
                   AS h_ab
        FROM sab, sa, sb)
    SELECT n,
           CASE WHEN n > 0 THEN floor(h_a * 1e6 + 0.5) / 1e6 END AS h_a,
           CASE WHEN n > 0 THEN floor(h_b * 1e6 + 0.5) / 1e6 END AS h_b,
           CASE WHEN n > 0 THEN
               floor((h_a + h_b - h_ab) * 1e6 + 0.5) / 1e6 END AS mi,
           CASE WHEN n > 0 AND h_a > 0 THEN
               floor(((h_a + h_b - h_ab) / h_a) * 1e6 + 0.5) / 1e6
           END AS u_a_given_b,
           CASE WHEN n > 0 AND h_b > 0 THEN
               floor(((h_a + h_b - h_ab) / h_b) * 1e6 + 0.5) / 1e6
           END AS u_b_given_a
    FROM calc
    """,
)
def profile_theils_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's U of (lang | source) and (source | lang) over documents
    (deferred — pytest-mirrored): operators/profiling.theils_u — the
    asymmetry the symmetric MI/V scores hide."""
    from ..operators.profiling import theils_u

    return theils_u(
        load_table(spark, sf_dir, "documents"), "lang", "source"
    )


# --------------------------------------------------------------------------
# Benford first-digit audit (NEW r14): digit read from the int64
# DECIMAL STRING (never log10/pow extraction — its floor flips at
# exact powers of ten cross-engine); dense 1..9 spine.
# --------------------------------------------------------------------------
@register(
    "quality_benford",
    sql="""
    WITH v AS (SELECT abs(CAST(n_chars AS BIGINT)) AS x
               FROM documents
               WHERE n_chars IS NOT NULL
                 AND CAST(n_chars AS BIGINT) <> 0),
    d AS (SELECT CAST(substr(CAST(x AS VARCHAR), 1, 1) AS BIGINT)
                     AS digit
          FROM v),
    c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n
          FROM d GROUP BY 1),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM c),
    spine AS (SELECT unnest(generate_series(1, 9)) AS digit)
    SELECT CAST(s.digit AS BIGINT) AS digit,
           CAST(coalesce(c.n, 0) AS BIGINT) AS n,
           CASE WHEN t > 0 THEN
               floor((CAST(coalesce(c.n, 0) AS DOUBLE)
                      / CAST(t AS DOUBLE)) * 1e6 + 0.5) / 1e6
           END AS observed_p,
           floor(log10(1.0 + 1.0 / CAST(s.digit AS DOUBLE))
                 * 1e6 + 0.5) / 1e6 AS expected_p
    FROM spine s LEFT JOIN c ON s.digit = c.digit, tot
    """,
)
def quality_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of n_chars over documents (deferred
    — pytest-mirrored): operators/profiling.benford_audit — does the
    size distribution look grown or fabricated."""
    from ..operators.profiling import benford_audit

    return benford_audit(
        load_table(spark, sf_dir, "documents"), "n_chars"
    )


# --------------------------------------------------------------------------
# period-over-period deltas (NEW r14): bucket-arithmetic equi-join
# (never a window lag across gaps), NULL baseline vs zero baseline
# kept distinct, floor bucketing.
# --------------------------------------------------------------------------
@register(
    "event_period_over_period",
    sql="""
    WITH e AS (SELECT event_type,
                      CAST(floor(epoch(ts)) AS BIGINT) AS t
               FROM events),
    grain AS (SELECT event_type, t // 3600 AS x,
                     CAST(count(*) AS BIGINT) AS y
              FROM e WHERE t IS NOT NULL GROUP BY 1, 2)
    SELECT g.event_type, g.x, CAST(g.x * 3600 AS BIGINT) AS t_lo_s,
           g.y, p.y AS y_prev,
           g.y - p.y AS delta,
           CASE WHEN p.y > 0 THEN
               floor((CAST(g.y - p.y AS DOUBLE)
                      / CAST(p.y AS DOUBLE)) * 1e6 + 0.5) / 1e6
           END AS pct_change
    FROM grain g LEFT JOIN grain p
      ON p.event_type = g.event_type AND p.x = g.x - 24
    """,
)
def event_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event volume vs the same hour one day earlier (lag 24
    buckets), per event type (deferred — pytest-mirrored):
    operators/temporal.period_over_period — the DoD delta table with
    missing baselines NULL, not zero."""
    from ..operators.temporal import period_over_period

    ev = load_table(spark, sf_dir, "events")
    e = ev.select("event_type", event_seconds(ev).alias("t"))
    return period_over_period(e, ["event_type"], "t", 3600, 24)


# --------------------------------------------------------------------------
# duplication health by source (NEW r14): where the duplication lives
# — self-dup mass + the group's actually-novel hash count, all on
# the (group, hash) rollup.
# --------------------------------------------------------------------------
@register(
    "dedup_rate_by_source",
    sql="""
    WITH gh AS (
        SELECT source AS g,
               md5(lower(regexp_replace(trim(coalesce(text, '')),
                                        '\\s+', ' ', 'g'))) AS h,
               CAST(count(*) AS BIGINT) AS c
        FROM documents GROUP BY 1, 2),
    per_group AS (SELECT g, CAST(sum(c) AS BIGINT) AS n_docs,
                         CAST(count(*) AS BIGINT) AS n_unique
                  FROM gh GROUP BY 1),
    solo AS (SELECT min(g) AS sg, CAST(count(*) AS BIGINT) AS ign
             FROM gh GROUP BY h HAVING count(*) = 1),
    solo_counts AS (SELECT sg, CAST(count(*) AS BIGINT) AS solo
                    FROM solo GROUP BY 1)
    SELECT p.g AS source, p.n_docs, p.n_unique,
           p.n_docs - p.n_unique AS n_dups,
           CASE WHEN p.n_docs > 0 THEN
               floor((CAST(p.n_docs - p.n_unique AS DOUBLE)
                      / CAST(p.n_docs AS DOUBLE)) * 1e6 + 0.5) / 1e6
           END AS dup_rate,
           CAST(coalesce(s.solo, 0) AS BIGINT) AS cross_group_unique
    FROM per_group p LEFT JOIN solo_counts s ON p.g = s.sg
    """,
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication health over documents (deferred —
    pytest-mirrored): operators/dedup.dup_rate_by_group — self-dup
    mass and the source's actually-novel contribution before any
    dedup pass runs."""
    from ..operators.dedup import dup_rate_by_group

    return dup_rate_by_group(load_table(spark, sf_dir, "documents"))
