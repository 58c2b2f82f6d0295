"""LLM training-data pipeline queries (SURVEY.md §7.3 M5): dedup families,
similarity search, text analysis, multimodal plumbing.

Oracles mirror the Spark expression shapes exactly (same tokenization,
same division order, round-6 before threshold filters) so doubles match
bit-for-bit. Probabilistic operators (MinHash LSH) carry the EXACT
operator's oracle: recall of the banding scheme is 1.0 on this corpus
(deterministic for fixed seed/params — pinned by tests), and the verify
stage makes precision exact by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_map_reduce_spark.functions.text import sanitize, tokenize
from hadoop_map_reduce_spark.functions.text_analysis import (
    STOPWORDS,
    bpe_token_count,
    fingerprint,
    lang_id,
    quality_score,
    stopword_hits,
    ws_token_count,
)
from hadoop_map_reduce_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs_prefix,
    simhash_neardup_pairs,
)
from hadoop_map_reduce_spark.operators.multimodal import (
    extract_media_features,
    perceptual_hash,
    phash_near_dup,
    with_binary_content,
)
from hadoop_map_reduce_spark.operators.similarity import (
    ann_topk_lsh,
    cosine_neardup_grid_blas,
    cosine_topk,
)
from hadoop_map_reduce_spark.plans.registry import register
from hadoop_map_reduce_spark.session import load_table

# DuckDB mirror of sanitize+tokenize (ASCII regex classes, see
# reference_queries._ORACLE_TOKENS).
_TOKS = (
    "list_filter(string_split_regex(lower(regexp_replace(text, "
    r"'([^\s\w]|_)+', ' ', 'g')), '\s+'), t -> t <> '')"
)

# Distinct 3-token shingles over those tokens, 1-indexed windows.
_SHINGLES = (
    "list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] "
    "for i in range(1, len(t) - 1)])"
)

_JACCARD_PAIRS_SQL = f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS} AS t FROM documents
    ), sh AS (
        SELECT doc_id, {_SHINGLES} AS s FROM toks WHERE len(t) >= 3
    ), pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               ROUND(len(list_intersect(a.s, b.s))
                     / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.5
"""


@register(
    "dedup_exact",
    tags=("llm", "dedup"),
    description="Exact dedup: one representative (min id) per distinct text.",
    oracle="SELECT text, MIN(doc_id) AS doc_id FROM documents GROUP BY text",
)
def dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_ngram_jaccard",
    headline=True,
    tags=("llm", "dedup"),
    description=(
        "Exact near-dup pairs: trigram-shingle Jaccard >= 0.5 via prefix "
        "filtering (rarest-first prefixes generate candidates, so hot "
        "shingles never become join keys; exact-Jaccard verify)."
    ),
    oracle=_JACCARD_PAIRS_SQL,
)
def dedup_ngram_jaccard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs_prefix(
        load_table(spark, sf_dir, "documents"), threshold=0.5, n=3
    )


@register(
    "dedup_minhash_lsh",
    headline=True,
    tags=("llm", "dedup"),
    description=(
        "MinHash(64) + LSH banding (32 bands × 2 rows) near-dup pairs, "
        "exact-Jaccard verified: equi-join candidate generation, no cross "
        "join. Same output contract as dedup_ngram_jaccard; banding recall "
        "on this corpus is 1.0 (deterministic, pinned by tests)."
    ),
    oracle=_JACCARD_PAIRS_SQL,
)
def dedup_minhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"),
        threshold=0.5, n=3, num_hashes=64, bands=32,
    )


@register(
    "dedup_simhash",
    tags=("llm", "dedup"),
    description=(
        "SimHash-64 near-dup candidates within Hamming distance 3 via "
        "pigeonhole chunk banding (xxhash64-based; no SQL oracle — "
        "engine-specific hash)."
    ),
    oracle=None,
)
def dedup_simhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_neardup_pairs(
        load_table(spark, sf_dir, "documents"), max_hamming=3
    )


_COSINE_SQL = (
    "list_dot_product(a.v, b.v) / "
    "(SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(b.v, b.v)))"
)


@register(
    "similarity_topk",
    headline=True,
    tags=("llm", "similarity"),
    description=(
        "Brute-force cosine top-5 neighbors for 10 query vectors "
        "(broadcast queries × corpus scan, window top-k)."
    ),
    oracle=f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), q AS (
            SELECT vec_id, v FROM e WHERE vec_id < 10
        ), scored AS (
            SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
                   ROUND({_COSINE_SQL}, 6) AS sim
            FROM e a JOIN q b ON a.vec_id <> b.vec_id
        ), ranked AS (
            SELECT query_id, neighbor_id, sim,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY sim DESC, neighbor_id ASC
                   ) AS BIGINT) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= 5
    """,
)
def similarity_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk(emb, queries, k=5)


@register(
    "similarity_ann_lsh",
    tags=("llm", "similarity"),
    description=(
        "ANN via random-hyperplane LSH bucketing + exact re-rank: the "
        "scale path (equi-join on sign-bit buckets; recall<1 by design, "
        "so no SQL oracle — accuracy pinned by recall tests vs brute force)."
    ),
    oracle=None,
)
def similarity_ann_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann_topk_lsh(emb, queries, k=5, dim=64, n_planes=4, probe_flips=1)


@register(
    "embedding_neardup",
    headline=True,
    tags=("llm", "similarity", "dedup"),
    description=(
        "Embedding near-dup pairs: cosine >= 0.4, exact, via the "
        "block-grid cogroup with BLAS matmul per cell (no nested-loop/"
        "cartesian; quadratic compute is inherent at this threshold — "
        "sims are a continuum through 0.4 — but distributed in (n/B)^2 "
        "work units at matmul throughput; round-6 parity with the "
        "θ-join reference cosine_neardup_pairs is test-pinned)."
    ),
    oracle=f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               ROUND({_COSINE_SQL}, 6) AS sim
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE ROUND({_COSINE_SQL}, 6) >= 0.4
    """,
)
def embedding_neardup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_neardup_grid_blas(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4
    )


def _sql_stop_hits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter(t, x -> list_contains([{words}], x)))"


@register(
    "text_lang_id",
    tags=("llm", "text"),
    description=(
        "Heuristic stopword language ID with deterministic argmax cascade."
    ),
    oracle=f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        hits AS (
            SELECT doc_id,
                   {_sql_stop_hits('en')} AS c_en,
                   {_sql_stop_hits('de')} AS c_de,
                   {_sql_stop_hits('fr')} AS c_fr,
                   {_sql_stop_hits('es')} AS c_es
            FROM toks
        )
        SELECT doc_id,
               CASE WHEN c_en + c_de + c_fr + c_es = 0 THEN 'unknown'
                    WHEN c_en >= GREATEST(c_de, c_fr, c_es) THEN 'en'
                    WHEN c_de >= GREATEST(c_fr, c_es) THEN 'de'
                    WHEN c_fr >= c_es THEN 'fr'
                    ELSE 'es' END AS lang_pred
        FROM hits
    """,
)
def text_lang_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(sanitize(F.col("text")))
    return docs.select("doc_id", lang_id(toks).alias("lang_pred"))


@register(
    "text_quality",
    headline=True,
    tags=("llm", "text"),
    description=(
        "Quality scoring: token counts (whitespace + BPE-ish regex), "
        "stopword hits, composite [0,1] score."
    ),
    oracle=f"""
        WITH toks AS (SELECT doc_id, text, {_TOKS} AS t FROM documents)
        SELECT doc_id,
               CAST(len(t) AS BIGINT) AS n_tokens,
               CAST(len(regexp_extract_all(text,
                    '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpe_tokens,
               CAST({_sql_stop_hits('en')} AS BIGINT) AS stop_hits,
               0.3 * LEAST(len(t) / 100.0, 1.0)
                 + 0.4 * ({_sql_stop_hits('en')} / len(t))
                 + 0.3 * (LENGTH(regexp_replace(text, '[^A-Za-z]+', '', 'g'))
                          / LENGTH(text)) AS quality
        FROM toks
    """,
)
def text_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(sanitize(F.col("text")))
    return docs.select(
        "doc_id",
        ws_token_count(toks).alias("n_tokens"),
        bpe_token_count(F.col("text")).alias("bpe_tokens"),
        stopword_hits(toks, "en").cast("long").alias("stop_hits"),
        quality_score(F.col("text"), toks).alias("quality"),
    )


@register(
    "text_fingerprint",
    tags=("llm", "text"),
    description="Rolling polynomial document fingerprint (Rabin-Karp style).",
    oracle="""
        SELECT doc_id,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(
                           list_filter(string_split(text, ''), c -> c <> ''),
                           c -> CAST(ascii(c) AS BIGINT))),
                   (h, c) -> (h * 31 + c) % 2147483647
               ) AS fp
        FROM documents
    """,
)
def text_fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))


@register(
    "corpus_stats_by_lang",
    tags=("llm", "text", "aggregation"),
    description=(
        "Corpus curation dashboard: per-(lang, source) doc counts, size "
        "totals, and mean quality (per-row quality rounded to 6dp, then "
        "exact integer-sum averaged — deterministic across engines)."
    ),
    oracle=f"""
        WITH toks AS (SELECT lang, source, n_chars, text, {_TOKS} AS t
                      FROM documents),
        q AS (
            SELECT lang, source, n_chars,
                   ROUND(0.3 * LEAST(len(t) / 100.0, 1.0)
                         + 0.4 * ({_sql_stop_hits('en')} / len(t))
                         + 0.3 * (LENGTH(regexp_replace(text, '[^A-Za-z]+',
                                                        '', 'g'))
                                  / LENGTH(text)), 6) AS quality
            FROM toks
        )
        SELECT lang, source,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               SUM(CAST(ROUND(quality * 1e6) AS BIGINT)) / 1e6 / COUNT(*)
                   AS mean_quality
        FROM q GROUP BY 1, 2
    """,
)
def corpus_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(sanitize(F.col("text")))
    q = docs.select(
        "lang",
        "source",
        "n_chars",
        F.round(quality_score(F.col("text"), toks), 6).alias("quality"),
    )
    return q.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        (
            F.sum(F.round(F.col("quality") * 1e6, 0).cast("long"))
            / F.lit(1e6)
            / F.count(F.lit(1))
        ).alias("mean_quality"),
    )


@register(
    "multimodal_meta",
    tags=("llm", "multimodal"),
    description=(
        "Binary-column metadata extraction: payload size + md5 digest "
        "(decode stage itself is the mapInPandas stub, rows-only tested)."
    ),
    oracle="""
        SELECT doc_id AS media_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS digest
        FROM documents
    """,
)
def multimodal_meta_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = with_binary_content(load_table(spark, sf_dir, "documents"))
    return media.select(
        "media_id",
        F.length("content").cast("long").alias("n_bytes"),
        F.md5("content").alias("digest"),
    )


# Shared phash-recompute SQL: CTE body yielding h(doc_id, phash) — the
# exact integer arithmetic of operators.multimodal.perceptual_hash
# (byte-bigram buckets, mult 30, 64 buckets, 63 gradient bits). Reused
# by the per-doc hash, pair, and streaming-admission oracles.
_PHASH_H_SQL = """
        buck AS (
            SELECT doc_id,
                   (ord(substring(text, j, 1)) * 30
                    + ord(substring(text, j + 1, 1))) % 64 AS k
            FROM (
                SELECT doc_id, text,
                       unnest(generate_series(1, length(text) - 1)) AS j
                FROM documents
            )
        ),
        cnt AS (SELECT doc_id, k, COUNT(*) AS c FROM buck GROUP BY 1, 2),
        grid AS (
            SELECT d.doc_id, i.i, COALESCE(cnt.c, 0) AS c
            FROM (SELECT doc_id FROM documents) d
            CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i) i
            LEFT JOIN cnt ON cnt.doc_id = d.doc_id AND cnt.k = i.i
        ),
        h AS (
            SELECT g1.doc_id,
                   CAST(SUM(CASE WHEN g1.c > g2.c
                                 THEN (CAST(1 AS BIGINT) << g1.i)
                                 ELSE 0 END) AS BIGINT) AS phash
            FROM grid g1
            JOIN grid g2 ON g2.doc_id = g1.doc_id AND g2.i = g1.i + 1
            WHERE g1.i < 63
            GROUP BY 1
        )
"""


@register(
    "multimodal_phash",
    tags=("llm", "multimodal"),
    description=(
        "63-bit histogram-gradient perceptual hash per media payload "
        "(dHash family over the byte-bigram intensity profile, NumPy "
        "bincount in a shuffle-free mapInPandas); the oracle recomputes "
        "the identical integer arithmetic in SQL — bucket adjacent byte "
        "pairs, gradient-compare adjacent bucket counts, pack bits."
    ),
    oracle=f"""
        WITH {_PHASH_H_SQL}
        SELECT doc_id AS media_id, phash FROM h
    """,
)
def multimodal_phash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document payload is >= 2 bytes in the corpus, so the
    degenerate hash-0 branch never fires here; the oracle's pair
    enumeration likewise always has at least one bigram per doc."""
    media = with_binary_content(load_table(spark, sf_dir, "documents"))
    return perceptual_hash(media)


@register(
    "multimodal_phash_neardup",
    tags=("llm", "multimodal"),
    headline=True,
    description=(
        "Image/media near-duplicate pairs by perceptual-hash Hamming "
        "distance <= 2: 3-band pigeonhole equi-join (no all-pairs "
        "product) + bit_count(xor) exact verify on candidates; the "
        "banding is provably lossless for the threshold, so the oracle "
        "can afford the quadratic form at sf and still match exactly."
    ),
    oracle=f"""
        WITH {_PHASH_H_SQL}
        SELECT a.doc_id AS media_id_a,
               b.doc_id AS media_id_b,
               CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
        FROM h a
        JOIN h b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.phash, b.phash)) <= 2
    """,
)
def multimodal_phash_neardup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one mapInPandas scan to hash, a 3x band explode of
    16-byte rows (id, hash, band), an equi-join on 21-bit band values,
    and an exact verify on the candidate set only — the minhash-LSH
    cost profile applied to media fingerprints. The quadratic all-pairs
    form exists only in the DuckDB oracle."""
    media = with_binary_content(load_table(spark, sf_dir, "documents"))
    return phash_near_dup(perceptual_hash(media), max_hamming=2)


@register(
    "multimodal_frame_hash_matches",
    tags=("llm", "multimodal"),
    description=(
        "Video-style near-dup media pairs via per-frame perceptual "
        "fingerprints: sample bounded frames, pHash each, drop "
        "stop-frames (hashes in >50 media), join media on identical "
        "frame hashes through an inverted index; the oracle recomputes "
        "frame slicing, per-frame hash, hot filter, and postings join "
        "in SQL."
    ),
    oracle="""
        WITH fr AS (
            SELECT doc_id, j, substring(text, j * 128 + 1, 128) AS f
            FROM (
                SELECT doc_id, text,
                       unnest(generate_series(0, CAST(GREATEST(LEAST(
                           CEIL(length(text) / 128.0) - 1, 7), 0)
                           AS BIGINT))) AS j
                FROM documents
            )
        ),
        fr2 AS (SELECT doc_id, j, f FROM fr WHERE length(f) >= 2),
        buck AS (
            SELECT doc_id, j,
                   (ord(substring(f, p, 1)) * 30
                    + ord(substring(f, p + 1, 1))) % 64 AS k
            FROM (
                SELECT doc_id, j, f,
                       unnest(generate_series(1, length(f) - 1)) AS p
                FROM fr2
            )
        ),
        cnt AS (
            SELECT doc_id, j, k, COUNT(*) AS c FROM buck GROUP BY 1, 2, 3
        ),
        grid AS (
            SELECT d.doc_id, d.j, i.i, COALESCE(cnt.c, 0) AS c
            FROM (SELECT doc_id, j FROM fr2) d
            CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i) i
            LEFT JOIN cnt ON cnt.doc_id = d.doc_id AND cnt.j = d.j
                         AND cnt.k = i.i
        ),
        h AS (
            SELECT g1.doc_id, g1.j,
                   CAST(SUM(CASE WHEN g1.c > g2.c
                                 THEN (CAST(1 AS BIGINT) << g1.i)
                                 ELSE 0 END) AS BIGINT) AS phash
            FROM grid g1
            JOIN grid g2 ON g2.doc_id = g1.doc_id AND g2.j = g1.j
                        AND g2.i = g1.i + 1
            WHERE g1.i < 63
            GROUP BY 1, 2
        ),
        keep AS (
            SELECT h.doc_id, h.j, h.phash
            FROM h
            JOIN (
                SELECT phash
                FROM (
                    SELECT phash, COUNT(DISTINCT doc_id) AS nd
                    FROM h GROUP BY 1
                ) WHERE nd <= 50
            ) ok USING (phash)
        )
        SELECT a.doc_id AS media_id_a, b.doc_id AS media_id_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared_frames
        FROM keep a
        JOIN keep b ON a.phash = b.phash AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    """,
)
def multimodal_frame_hash_matches_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The composition query of the multimodal pillar: frame_sample
    fan-out -> perceptual_hash -> stop-frame cut -> postings equi-join.
    128-byte frames so this corpus's documents span multiple frames
    (max text 553 bytes); near-dup docs share their prefix frames
    exactly, which is what the inverted index catches."""
    from hadoop_map_reduce_spark.operators.multimodal import (
        frame_hash_matches,
    )

    media = with_binary_content(load_table(spark, sf_dir, "documents"))
    return frame_hash_matches(
        media, every_n_bytes=128, max_frames=8, hot_threshold=50
    )


@register(
    "multimodal_audio_segments",
    tags=("llm", "multimodal"),
    description=(
        "VAD-style activity segmentation over windowed signal energy "
        "(64-byte frames as unsigned 8-bit PCM, integer sum-of-squares, "
        "active >= 125000): consecutive active windows form segments "
        "via the gaps-and-islands key; per media the window/active "
        "counts, segment count, and longest run — the oracle recomputes "
        "the exact byte arithmetic and islanding in SQL."
    ),
    oracle="""
        WITH pos AS (
            SELECT doc_id,
                   (p - 1) // 64 AS w,
                   ord(substring(text, p, 1)) AS b
            FROM (
                SELECT doc_id, text,
                       unnest(generate_series(1, length(text))) AS p
                FROM documents
            )
        ),
        e AS (
            SELECT doc_id, w,
                   SUM((b - 128) * (b - 128)) AS energy
            FROM pos GROUP BY 1, 2
        ),
        act AS (SELECT doc_id, w FROM e WHERE energy >= 125000),
        grp AS (
            SELECT doc_id, w,
                   w - ROW_NUMBER() OVER (
                       PARTITION BY doc_id ORDER BY w) AS g
            FROM act
        ),
        seg AS (SELECT doc_id, g, COUNT(*) AS run FROM grp GROUP BY 1, 2),
        seg_stats AS (
            SELECT doc_id,
                   COUNT(*) AS n_segments,
                   MAX(run) AS longest_run
            FROM seg GROUP BY 1
        ),
        win_stats AS (
            SELECT doc_id,
                   COUNT(*) AS n_windows,
                   SUM(CASE WHEN energy >= 125000 THEN 1 ELSE 0 END)
                       AS n_active
            FROM e GROUP BY 1
        )
        SELECT w.doc_id AS media_id,
               CAST(w.n_windows AS BIGINT) AS n_windows,
               CAST(w.n_active AS BIGINT) AS n_active,
               CAST(COALESCE(s.n_segments, 0) AS BIGINT) AS n_segments,
               CAST(COALESCE(s.longest_run, 0) AS BIGINT) AS longest_run
        FROM win_stats w
        LEFT JOIN seg_stats s ON s.doc_id = w.doc_id
    """,
)
def multimodal_audio_segments_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus is pure ASCII, so text codepoints are payload bytes —
    the same byte-arithmetic bridge as multimodal_audio_energy's
    oracle; the islanding is the sessionization pattern applied to a
    signal stream, partitioned per media (bounded windows, no global
    sort anywhere)."""
    from hadoop_map_reduce_spark.operators.multimodal import (
        audio_activity_segments,
    )

    media = with_binary_content(load_table(spark, sf_dir, "documents"))
    return audio_activity_segments(media, window=64, threshold=125_000)


@register(
    "multimodal_phash_clusters",
    tags=("llm", "multimodal", "dedup", "iterative"),
    description=(
        "Duplicate-media clusters: iterative connected components over "
        "the perceptual-hash Hamming<=2 pair graph -> one "
        "representative (min id) per cluster, singletons representing "
        "themselves; oracle via recursive-CTE reachability over exact "
        "recomputed Hamming pairs (lossless banding, so engine pair "
        "set == oracle pair set with no recall assumption)."
    ),
    oracle=f"""
        WITH RECURSIVE {_PHASH_H_SQL},
        near AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM h a
            JOIN h b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.phash, b.phash)) <= 2
        ),
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM near
            UNION SELECT id_b, id_a FROM near
        ),
        reach AS (
            SELECT src AS node, src AS r FROM edges
            UNION
            SELECT e.src AS node, reach.r
            FROM edges e JOIN reach ON e.dst = reach.node
        ),
        comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)
        SELECT d.doc_id AS media_id,
               COALESCE(c.component, d.doc_id) AS representative
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    """,
)
def multimodal_phash_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup_clusters pipeline with the media similarity family:
    pair generation is the lossless banded Hamming join (never
    all-pairs), component resolution is the same min-label propagation
    with tracked localCheckpoint release (operators/clustering.py)."""
    from hadoop_map_reduce_spark.operators.clustering import (
        dedup_representatives,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = with_binary_content(docs)
    pairs = phash_near_dup(perceptual_hash(media), max_hamming=2).select(
        F.col("media_id_a").alias("id_a"), F.col("media_id_b").alias("id_b")
    )
    return dedup_representatives(
        pairs, docs.select("doc_id")
    ).select(F.col("doc_id").alias("media_id"), "representative")


@register(
    "multimodal_resize_audit",
    tags=("llm", "multimodal"),
    description=(
        "Media resize stage audit: runs the real mapInPandas "
        "stride-resize over every payload and emits per-media output "
        "size plus the first and last sampled byte — the oracle "
        "recomputes the exact sampling arithmetic in SQL (target 256 is "
        "a power of two, so len/256.0 is dyadic and float stride "
        "indexing equals integer floor division exactly)."
    ),
    oracle="""
        SELECT doc_id AS media_id,
               CAST(LEAST(octet_length(encode(text)), 256) AS BIGINT)
                   AS resized_bytes,
               CAST(ord(substring(text, 1, 1)) AS BIGINT) AS first_byte,
               CAST(ord(substring(text,
                   CASE WHEN octet_length(encode(text)) > 256
                        THEN (255 * octet_length(encode(text))) // 256 + 1
                        ELSE octet_length(encode(text)) END,
                   1)) AS BIGINT) AS last_byte
        FROM documents
    """,
)
def multimodal_resize_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte values surface via ascii(cast(binary as string)) — sound
    because the corpus is pure ASCII, the same bridge every multimodal
    oracle here uses. ``last_byte`` pins the stride formula itself
    (payload[int(255 * n/256)] for long payloads, the final byte for
    passthrough), so an off-by-one in the sampling loop breaks the
    hash match, not just the length column."""
    from hadoop_map_reduce_spark.operators.multimodal import resize_media

    media = with_binary_content(load_table(spark, sf_dir, "documents"))
    resized = resize_media(media, target_px=256)
    n = F.length("resized")
    byte_at = lambda pos: F.ascii(  # noqa: E731
        F.substring(F.col("resized"), pos, 1).cast("string")
    ).cast("long")
    return resized.select(
        "media_id",
        n.cast("long").alias("resized_bytes"),
        byte_at(F.lit(1)).alias("first_byte"),
        byte_at(n).alias("last_byte"),
    )


@register(
    "multimodal_features",
    tags=("llm", "multimodal"),
    description=(
        "Arrow-batched mapInPandas feature extraction over binary "
        "payloads (deterministic histogram decoder stub): the normalized "
        "float histogram is converted back to exact integer bin counts "
        "(round(f * n_bytes) round-trips the count exactly — |f*n - c| "
        "<= c*eps << 0.5) so the DuckDB oracle can recompute them with "
        "pure byte arithmetic; corpus text is ASCII, so codepoints are "
        "payload bytes."
    ),
    oracle="""
        WITH idx AS (
            SELECT doc_id, text,
                   unnest(generate_series(1, length(text))) AS i
            FROM documents
        ), b AS (
            SELECT doc_id,
                   ord(substring(text, CAST(i AS INT), 1)) % 16 AS m
            FROM idx
        ), h AS (
            SELECT doc_id,
                   CAST(SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS c0,
                   CAST(SUM(CASE WHEN m = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS c1
            FROM b GROUP BY 1
        )
        -- LEFT JOIN: an empty payload has no bytes to unnest but the
        -- operator still emits its (0, 0, 0) row.
        SELECT d.doc_id AS media_id,
               CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes,
               COALESCE(h.c0, 0) AS c0,
               COALESCE(h.c1, 0) AS c1
        FROM documents d LEFT JOIN h ON h.doc_id = d.doc_id
    """,
)
def multimodal_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = with_binary_content(load_table(spark, sf_dir, "documents"))
    feats = extract_media_features(media, bins=16)
    return feats.select(
        "media_id",
        "n_bytes",
        F.round(F.element_at("features", 1) * F.col("n_bytes"))
        .cast("long")
        .alias("c0"),
        F.round(F.element_at("features", 2) * F.col("n_bytes"))
        .cast("long")
        .alias("c1"),
    )


@register(
    "multimodal_frames",
    tags=("llm", "multimodal"),
    description=(
        "Frame-sampling fan-out over binary payloads (1 media row -> M "
        "frame rows) rolled back up per media — the exploded plumbing is "
        "cross-checked against the closed-form byte arithmetic the slices "
        "must satisfy."
    ),
    oracle="""
        SELECT doc_id AS media_id,
               CAST(GREATEST(LEAST(
                   CEIL(octet_length(encode(text)) / 1024.0) - 1, 7), 0)
                   + 1 AS BIGINT) AS n_frames,
               CAST(LEAST(octet_length(encode(text)), 8 * 1024) AS BIGINT)
                   AS total_frame_bytes
        FROM documents
    """,
)
def multimodal_frames_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the real explode/substr frame stage, then aggregates back to
    one row per media; the oracle states the invariant algebraically
    (k frames cover min(len, k*N) bytes), so a slicing bug — overlap,
    gap, off-by-one — breaks the hash match."""
    from hadoop_map_reduce_spark.operators.multimodal import frame_sample

    media = with_binary_content(load_table(spark, sf_dir, "documents"))
    frames = frame_sample(media, every_n_bytes=1024, max_frames=8)
    return frames.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum(F.length("frame")).alias("total_frame_bytes"),
    )


@register(
    "multimodal_audio_energy",
    tags=("llm", "multimodal"),
    description=(
        "Windowed audio-energy featurization over binary payloads as "
        "unsigned 8-bit PCM (256-byte frames, integer sum-of-squares): "
        "real vectorized NumPy DSP in a shuffle-free mapInPandas — the "
        "oracle recomputes the exact per-byte arithmetic in SQL (corpus "
        "is pure ASCII, so text codepoints are payload bytes)."
    ),
    oracle="""
        WITH idx AS (
            SELECT doc_id, text,
                   unnest(generate_series(1, length(text))) AS i
            FROM documents
        ), b AS (
            SELECT doc_id,
                   CAST(FLOOR((i - 1) / 256) AS BIGINT) AS w,
                   (ord(substring(text, CAST(i AS INT), 1)) - 128)
                   * (ord(substring(text, CAST(i AS INT), 1)) - 128)
                       AS sq
            FROM idx
        ), wins AS (
            SELECT doc_id, w, CAST(SUM(sq) AS BIGINT) AS energy
            FROM b GROUP BY 1, 2
        ), per AS (
            SELECT doc_id, COUNT(*) AS nw, SUM(energy) AS te,
                   MAX(energy) AS pe
            FROM wins GROUP BY 1
        )
        -- LEFT JOIN back to documents: an empty payload has no windows
        -- to unnest but the operator still emits its (0, 0, 0) row.
        SELECT d.doc_id AS media_id,
               CAST(COALESCE(p.nw, 0) AS BIGINT) AS n_windows,
               CAST(COALESCE(p.te, 0) AS BIGINT) AS total_energy,
               CAST(COALESCE(p.pe, 0) AS BIGINT) AS peak_energy
        FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
    """,
)
def multimodal_audio_energy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_map_reduce_spark.operators.multimodal import audio_energy

    media = with_binary_content(
        load_table(spark, sf_dir, "documents"), modality="audio"
    )
    return audio_energy(media, window=256)


@register(
    "tokenizer_fertility_by_lang",
    tags=("llm", "text", "aggregation", "tokenizer"),
    description=(
        "Tokenizer fertility per language: corpus-level BPE-ish tokens "
        "per whitespace token as integer ppm (the multilingual "
        "tokenizer-efficiency metric — fertility >> 1e6 means a "
        "language fragments into many subwords per word), plus both "
        "raw sums."
    ),
    oracle=f"""
        WITH t AS (
            SELECT lang,
                   len({_TOKS}) AS ws,
                   len(regexp_extract_all(text,
                       '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS bpe
            FROM documents
        )
        SELECT lang,
               CAST(SUM(CAST(ws AS BIGINT)) AS BIGINT) AS ws_tokens,
               CAST(SUM(CAST(bpe AS BIGINT)) AS BIGINT) AS bpe_tokens,
               CAST(SUM(CAST(bpe AS BIGINT)) * 1000000
                    // SUM(CAST(ws AS BIGINT)) AS BIGINT)
                   AS fertility_ppm
        FROM t GROUP BY lang
    """,
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan: two per-row counts (codegen'd regex, no explode — the gram
    arrays never materialize), one aggregation keyed by lang. The ppm
    ratio divides corpus-level sums, so the result is exact and
    order-independent; per-language token totals are the numbers a
    tokenizer-budget planner actually consumes.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(sanitize(F.col("text")))
    t = docs.select(
        "lang",
        ws_token_count(toks).alias("ws"),
        bpe_token_count(F.col("text")).alias("bpe"),
    )
    return (
        t.groupBy("lang")
        .agg(
            F.sum("ws").alias("ws_tokens"),
            F.sum("bpe").alias("bpe_tokens"),
        )
        .select(
            "lang",
            "ws_tokens",
            "bpe_tokens",
            F.expr("bpe_tokens * 1000000 DIV ws_tokens").alias(
                "fertility_ppm"
            ),
        )
    )


@register(
    "multimodal_dedup_exact",
    tags=("llm", "multimodal", "dedup"),
    description=(
        "Per-modality exact-dedup census over a two-modality payload "
        "table (image = utf-8 text bytes, audio = 'audio:'-salted text "
        "bytes): "
        "media count, distinct md5-digest count, duplicate copies, and "
        "the lexicographic min/max digest as value anchors — the "
        "payload-size-independent first pass of a media dedup pipeline."
    ),
    oracle="""
        WITH media AS (
            SELECT doc_id AS media_id, 'image' AS modality,
                   md5(text) AS digest
            FROM documents
            UNION ALL
            SELECT doc_id, 'audio', md5('audio:' || text) FROM documents
        )
        SELECT modality,
               CAST(COUNT(*) AS BIGINT) AS n_media,
               CAST(COUNT(DISTINCT digest) AS BIGINT) AS n_unique,
               CAST(COUNT(*) - COUNT(DISTINCT digest) AS BIGINT)
                   AS n_dup_copies,
               MIN(digest) AS min_digest,
               MAX(digest) AS max_digest
        FROM media GROUP BY modality
    """,
)
def multimodal_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan: two binary projections unioned (one scan each), md5
    computed map-side, ONE aggregation keyed by modality. Payloads
    never shuffle — digests are 16 bytes regardless of payload size.
    The min/max digest anchors make the 2-row report a strong value
    check even on a corpus with no exact duplicates (this SF);
    n_dup_copies counts removable copies when they exist.
    """
    docs = load_table(spark, sf_dir, "documents")
    img = with_binary_content(docs)
    # Salt prefix (not reverse): Spark reverses strings by code point,
    # DuckDB by grapheme cluster — identical on this ASCII corpus but a
    # latent oracle divergence; concat is engine-agnostic.
    aud = with_binary_content(
        docs.select(
            "doc_id",
            F.concat(F.lit("audio:"), F.col("text")).alias("text"),
        ),
        modality="audio",
    )
    media = img.unionByName(aud)
    return (
        media.select("modality", F.md5("content").alias("digest"))
        .groupBy("modality")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_media"),
            F.countDistinct("digest").cast("long").alias("n_unique"),
            (F.count(F.lit(1)) - F.countDistinct("digest"))
            .cast("long")
            .alias("n_dup_copies"),
            F.min("digest").alias("min_digest"),
            F.max("digest").alias("max_digest"),
        )
    )


@register(
    "text_lang_confusion",
    tags=("llm", "text", "aggregation"),
    description=(
        "Language-ID evaluation: confusion matrix of the stopword "
        "heuristic's prediction against the labeled lang column "
        "(label, predicted, n_docs) — the accuracy report that decides "
        "whether the cheap heuristic suffices before a model-based "
        "classifier."
    ),
    oracle=f"""
        WITH toks AS (SELECT doc_id, lang, {_TOKS} AS t FROM documents),
        hits AS (
            SELECT doc_id, lang,
                   {_sql_stop_hits('en')} AS c_en,
                   {_sql_stop_hits('de')} AS c_de,
                   {_sql_stop_hits('fr')} AS c_fr,
                   {_sql_stop_hits('es')} AS c_es
            FROM toks
        ), pred AS (
            SELECT lang,
                   CASE WHEN c_en + c_de + c_fr + c_es = 0 THEN 'unknown'
                        WHEN c_en >= GREATEST(c_de, c_fr, c_es) THEN 'en'
                        WHEN c_de >= GREATEST(c_fr, c_es) THEN 'de'
                        WHEN c_fr >= c_es THEN 'fr'
                        ELSE 'es' END AS lang_pred
            FROM hits
        )
        SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM pred GROUP BY lang, lang_pred
    """,
)
def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan: the same per-row argmax cascade as text_lang_id (shared
    functions/text_analysis.lang_id — one definition), then one
    aggregation keyed by (label, prediction); output bounded by
    |langs|² + unknown. Per-row work is codegen'd Column expressions.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(sanitize(F.col("text")))
    return (
        docs.select("lang", lang_id(toks).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


@register(
    "embedding_hard_negatives",
    tags=("llm", "similarity"),
    description=(
        "Contrastive negative mining for embedding training: per "
        "anchor (vec_id < 10), the 3 HARD negatives (highest cosine "
        "among DIFFERENT-label vectors — the semantically-closest "
        "wrong answers) plus 2 EASY negatives (md5-hash-uniform sample "
        "of different-label vectors, reproducible across runs) — the "
        "(anchor, negative, kind, rank, sim) table a training pipeline "
        "feeds into its loss."
    ),
    oracle=f"""
        WITH e AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
        ), q AS (
            SELECT vec_id, label, v FROM e WHERE vec_id < 10
        ), scored AS (
            SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
                   ROUND({_COSINE_SQL}, 6) AS sim,
                   md5(CAST(b.vec_id AS VARCHAR) || '_'
                       || CAST(a.vec_id AS VARCHAR)) AS h
            FROM e a JOIN q b
              ON a.vec_id <> b.vec_id AND a.label <> b.label
        ), hard AS (
            SELECT query_id, neighbor_id, 'hard' AS kind,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY sim DESC, neighbor_id ASC
                   ) AS BIGINT) AS rank, sim
            FROM scored
        ), easy AS (
            SELECT query_id, neighbor_id, 'easy' AS kind,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY h ASC, neighbor_id ASC
                   ) AS BIGINT) AS rank, sim
            FROM scored
        )
        SELECT * FROM hard WHERE rank <= 3
        UNION ALL
        SELECT * FROM easy WHERE rank <= 2
    """,
)
def embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same distribution shape as cosine_topk: the 10-anchor side
    broadcasts, and each ranking is a WindowGroupLimit top-k cut
    (per-partition heaps before the anchor-keyed exchange). The union
    DELIBERATELY evaluates the scored subtree twice — one corpus scan
    per branch — because fusing both ranks into one projection would
    disable rank-limit pushdown (a row must survive if EITHER rank is
    small), shuffling the full anchors×corpus stream instead of ≤k
    rows per input partition; at 100 TB two cheap scans beat one
    unpruned shuffle (r7 review finding #3: the cost is the scan, the
    docstring previously claimed otherwise). The easy-negative ranking
    keys on md5(anchor, candidate) — uniform and reproducible, the
    same discipline as sample_reservoir_hash; at 100 TB you'd
    hash-FILTER instead of rank for easies (no shuffle), kept
    rank-based here so the sample size is exact per anchor."""
    from hadoop_map_reduce_spark.functions.vectors import (
        cosine_similarity,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("_qid"),
        F.col("label").alias("_qlabel"),
        F.col("embedding").alias("_qvec"),
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(
            (F.col("vec_id") != F.col("_qid"))
            & (F.col("label") != F.col("_qlabel"))
        )
        .select(
            F.col("_qid").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                cosine_similarity(F.col("_qvec"), F.col("embedding")), 6
            ).alias("sim"),
            F.md5(
                F.concat(
                    F.col("_qid").cast("string"),
                    F.lit("_"),
                    F.col("vec_id").cast("string"),
                ).cast("binary")
            ).alias("_h"),
        )
    )
    w_hard = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    w_easy = Window.partitionBy("query_id").orderBy(
        F.col("_h").asc(), F.col("neighbor_id").asc()
    )
    hard = (
        scored.withColumn("rank", F.row_number().over(w_hard).cast("long"))
        .filter(F.col("rank") <= 3)
        .select(
            "query_id", "neighbor_id", F.lit("hard").alias("kind"),
            "rank", "sim",
        )
    )
    easy = (
        scored.withColumn("rank", F.row_number().over(w_easy).cast("long"))
        .filter(F.col("rank") <= 2)
        .select(
            "query_id", "neighbor_id", F.lit("easy").alias("kind"),
            "rank", "sim",
        )
    )
    return hard.unionAll(easy)
