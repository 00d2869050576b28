"""Certified queries for the training-data-pipeline operators (no
reference counterpart — BASELINE.json north star): dedup family,
similarity search, text analysis. Operators live in
``operators.dedup`` / ``operators.similarity`` / ``operators.text``;
these plans bind them to the driver fixture tables and express each as
DuckDB-checkable SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..boundary import spread
from ..materialize import cut
from ..operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_band_pairs,
    simhash_groups,
)
from ..operators.similarity import (
    brute_force_topk,
    cosine_neardup_pairs,
    lsh_topk,
    sign_bucket_expr,
)
from ..operators.text import (
    curate_corpus,
    fingerprint,
    lang_id,
    quality_features,
    tfidf_top_terms,
    token_counts,
)
from ..sources import load_table
from .registry import register


# DuckDB fragment: distinct word-3-gram shingles of lower(text).
_SH_SQL = """
    list_distinct(list_transform(
        range(1, greatest(len(string_split(lower(text), ' ')) - 2, 0) + 1),
        i -> array_to_string((string_split(lower(text), ' '))[i:i+2], ' ')))
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact hash dedup. The fixture has no byte-identical dups, so a
    deterministic duplication step (every 10th doc re-ingested under a
    new id) fabricates them — mirroring a re-crawled corpus."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    redub = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    return exact_dedup(docs.unionByName(redub))


register(
    "q_dedup_exact",
    q_dedup_exact,
    """
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
    )
    SELECT md5(text) AS content_hash, min(doc_id) AS doc_id, count(*) AS dup_count
    FROM corpus GROUP BY md5(text)
    """,
)


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(12)+LSH(6 bands × 2) candidate generation with exact
    shingle-Jaccard verification at ≥ 0.5 — finds the corpus's planted
    near-duplicate pairs without an all-pairs comparison."""
    return minhash_lsh_pairs(load_table(spark, sf_dir, "documents"))


register(
    "q_dedup_minhash",
    q_dedup_minhash,
    f"""
    WITH sh AS (
        SELECT doc_id, {_SH_SQL} AS sh FROM documents
    ),
    nonempty AS (SELECT * FROM sh WHERE len(sh) > 0),
    sigs AS (
        SELECT doc_id, sh,
               list_transform(range(0, 12),
                   j -> list_min(list_transform(sh,
                        s -> md5(CAST(j AS VARCHAR) || ':' || s)))) AS sig
        FROM nonempty
    ),
    bands AS (
        SELECT doc_id, t.range AS band,
               md5(array_to_string(sig[t.range*2+1 : t.range*2+2], '|')) AS band_hash
        FROM sigs, range(0, 6) t
    ),
    cands AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           round(len(list_intersect(sa.sh, sb.sh)) * 1.0
                 / len(list_distinct(list_concat(sa.sh, sb.sh))), 4) AS jaccard
    FROM cands
    JOIN sigs sa ON sa.doc_id = id_a
    JOIN sigs sb ON sb.doc_id = id_b
    WHERE round(len(list_intersect(sa.sh, sb.sh)) * 1.0
                / len(list_distinct(list_concat(sa.sh, sb.sh))), 4) >= 0.5
    """,
)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs n-gram Jaccard ≥ 0.5 — the quadratic ground
    truth the LSH path must reproduce (and does: same output)."""
    return ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"))


register(
    "q_ngram_jaccard",
    q_ngram_jaccard,
    f"""
    WITH sh AS (SELECT doc_id, {_SH_SQL} AS sh FROM documents),
    nonempty AS (SELECT * FROM sh WHERE len(sh) > 0)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.sh, b.sh)) * 1.0
                 / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
    FROM nonempty a JOIN nonempty b ON a.doc_id < b.doc_id
    WHERE round(len(list_intersect(a.sh, b.sh)) * 1.0
                / len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.5
    """,
)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash signatures + hamming-0 bucket sizes."""
    return simhash_groups(load_table(spark, sf_dir, "documents"))


# Shared with q_simhash_band: the engine-portable 16-bit signature.
_SIMHASH_SIG_SQL = """
        SELECT doc_id,
               array_to_string(list_transform(range(1, 17), p ->
                   CASE WHEN list_sum(list_transform(string_split(lower(text), ' '),
                        w -> CASE WHEN substr(md5(w), p, 1) IN
                                  ('1','3','5','7','9','b','d','f')
                             THEN 1 ELSE -1 END)) > 0
                   THEN '1' ELSE '0' END), '') AS simhash
        FROM documents
"""

register(
    "q_dedup_simhash",
    q_dedup_simhash,
    f"""
    WITH sh AS ({_SIMHASH_SIG_SQL})
    SELECT doc_id, simhash, count(*) OVER (PARTITION BY simhash) AS n_same
    FROM sh
    """,
)


def q_simhash_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash hamming≤2 near-dup pairs via 4×4-bit banding — exact by
    pigeonhole (hamming<4 pairs must share a band), candidates from an
    equi self-join on (band, band bits), verified by full-signature
    hamming distance."""
    return simhash_band_pairs(load_table(spark, sf_dir, "documents"), max_hamming=2)


_HAMMING_SQL = " + ".join(
    f"CASE WHEN substr(sig_a, {p}, 1) <> substr(sig_b, {p}, 1) THEN 1 ELSE 0 END"
    for p in range(1, 17)
)

register(
    "q_simhash_band",
    q_simhash_band,
    f"""
    WITH sh AS ({_SIMHASH_SIG_SQL}),
    bands AS (
        SELECT doc_id, simhash, b.band,
               substr(simhash, b.band * 4 + 1, 4) AS band_bits
        FROM sh, (SELECT unnest(range(0, 4)) AS band) b
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.simhash AS sig_a, b.simhash AS sig_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_bits = b.band_bits
         AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, {_HAMMING_SQL} AS hamming
    FROM cand
    WHERE {_HAMMING_SQL} <= 2
    """,
)


def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos ≥ 0.4)."""
    return cosine_neardup_pairs(load_table(spark, sf_dir, "embeddings"), dim=64)


_COS_SQL = """
WITH e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
scored AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(
               list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
               / (sqrt(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * a.v[i])))
                  * sqrt(list_sum(list_transform(range(1, len(b.v) + 1), i -> b.v[i] * b.v[i])))),
               4) AS cos
    FROM e a JOIN e b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, cos FROM scored WHERE cos >= 0.4
"""

register("q_embed_neardup", q_embed_neardup, _COS_SQL)


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for a query subset (vec_id % 50 = 0) —
    the exact ANN baseline; queries broadcast, corpus scanned once."""
    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb.filter(F.col("vec_id") % 50 == 0), emb, dim=64)


register(
    "q_ann_topk",
    q_ann_topk,
    """
    WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(
                   list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i]))
                   / (sqrt(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * q.v[i])))
                      * sqrt(list_sum(list_transform(range(1, len(c.v) + 1), i -> c.v[i] * c.v[i])))),
                   4) AS cos
        FROM e q JOIN e c ON q.vec_id != c.vec_id
        WHERE q.vec_id % 50 = 0
    )
    SELECT query_id, neighbor_id, cos, CAST(rank AS INT) AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id ASC) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
)


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane sign-LSH bucketed ANN (4-bit sketch at this
    corpus size; wider at scale): candidates share the bucket, ranked by
    exact cosine. Seeded Rademacher hyperplanes mix every dimension into
    every bit, so sign-correlated corpora don't collapse into one
    quadratic mega-bucket (axis-aligned signs do)."""
    return lsh_topk(load_table(spark, sf_dir, "embeddings"), bits=4, dim=64)


register(
    "q_ann_lsh",
    q_ann_lsh,
    f"""
    WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               {sign_bucket_expr("embedding", bits=4, dim=64, one_based=True)} AS bucket
        FROM embeddings
    ),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(
                   list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i]))
                   / (sqrt(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * q.v[i])))
                      * sqrt(list_sum(list_transform(range(1, len(c.v) + 1), i -> c.v[i] * c.v[i])))),
                   4) AS cos
        FROM e q JOIN e c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
    )
    SELECT query_id, neighbor_id, cos, CAST(rank AS INT) AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id ASC) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
)


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID with deterministic argmax tiebreak."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id(F.col("text")).alias("predicted_lang"))


register(
    "q_lang_id",
    q_lang_id,
    """
    WITH scored AS (
        SELECT doc_id,
               len(list_filter(string_split(lower(text), ' '),
                   w -> w IN ('the','a','and','of','to'))) AS en_hits,
               len(list_filter(string_split(lower(text), ' '),
                   w -> w IN ('der','die','das','und','ist'))) AS de_hits,
               len(list_filter(string_split(lower(text), ' '),
                   w -> w IN ('el','la','de','y','es'))) AS es_hits
        FROM documents
    )
    SELECT doc_id,
           CASE WHEN greatest(en_hits, de_hits, es_hits) = 0 THEN 'und'
                WHEN es_hits >= en_hits AND es_hits >= de_hits THEN 'es'
                WHEN en_hits >= de_hits THEN 'en'
                ELSE 'de' END AS predicted_lang
    FROM scored
    """,
)


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality features + blended 0-1 score."""
    return quality_features(load_table(spark, sf_dir, "documents"))


register(
    "q_quality_score",
    q_quality_score,
    """
    WITH base AS (
        SELECT doc_id,
               length(text) AS n_chars,
               len(string_split(lower(text), ' ')) AS n_words,
               len(list_filter(string_split(lower(text), ' '),
                   w -> w IN ('the','a','and','of','to'))) AS stop_hits,
               length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha_chars
        FROM documents
    )
    SELECT doc_id, n_chars, n_words,
           round((n_chars - (n_words - 1)) * 1.0 / greatest(n_words, 1), 4) AS avg_word_len,
           round(stop_hits * 1.0 / greatest(n_words, 1), 4) AS stop_ratio,
           round(alpha_chars * 1.0 / greatest(n_chars, 1), 4) AS alpha_ratio,
           -- least() on decimals degrades to DOUBLE in DuckDB; CASE keeps
           -- the decimal type so the blend stays exact.
           CAST(round(
               CAST(least(n_words / 100.0, 1.0) AS DECIMAL(8,4)) * CAST(0.4 AS DECIMAL(2,1))
               + (CASE WHEN CAST(CAST(round(stop_hits * 1.0 / greatest(n_words, 1), 4)
                                      AS DECIMAL(8,4))
                             * CAST(5 AS DECIMAL(2,0)) AS DECIMAL(8,4))
                            >= CAST(1 AS DECIMAL(8,4))
                       THEN CAST(1 AS DECIMAL(8,4))
                       ELSE CAST(CAST(round(stop_hits * 1.0 / greatest(n_words, 1), 4)
                                      AS DECIMAL(8,4))
                                 * CAST(5 AS DECIMAL(2,0)) AS DECIMAL(8,4)) END)
                 * CAST(0.3 AS DECIMAL(2,1))
               + CAST(round(alpha_chars * 1.0 / greatest(n_chars, 1), 4) AS DECIMAL(8,4))
                 * CAST(0.3 AS DECIMAL(2,1)),
               4) AS DOUBLE) AS quality_score
    FROM base
    """,
)


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace / BPE-ish regex / chars-per-4 token estimates."""
    return token_counts(load_table(spark, sf_dir, "documents"))


register(
    "q_token_count",
    q_token_count,
    """
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS re_tokens,
           CAST(floor(length(text) / 4.0) AS BIGINT) AS est_tokens
    FROM documents
    """,
)


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column → typed metadata via an Arrow row kernel (decode
    step is a deterministic stub; plumbing is real — see
    operators.multimodal)."""
    from ..operators.multimodal import decode_image_meta, with_payload

    docs = with_payload(load_table(spark, sf_dir, "documents"))
    return decode_image_meta(docs)


register(
    "q_multimodal_meta",
    q_multimodal_meta,
    """
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           CAST(octet_length(encode(text)) % 640 + 1 AS INTEGER) AS width,
           CAST((octet_length(encode(text)) * 7) % 480 + 1 AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS channels,
           ['png','jpeg','webp'][ascii(substr(text, 1, 1)) % 3 + 1] AS format
    FROM documents
    """,
)


def q_png_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image-codec certification through the driver gate (VERDICT
    r3 'what's missing' #1): fabricate a genuine PNG per document
    (dims and RGB pixels are deterministic functions of (doc_id,
    n_chars) — functions.pngcodec encodes real zlib scanlines), ship
    the binary column through Spark, decode it with the same pure-stdlib
    codec, and emit dims + an exact pixel checksum from the DECODED
    bytes. The oracle recomputes the expected pixels arithmetically in
    SQL, so a hash match proves the payload round-tripped encode →
    binary column → decode bit-exactly — codec behavior itself is
    certified, not just pipeline shape. Two chained Arrow passes, zero
    shuffle."""
    from ..operators.multimodal import decode_pixel_stats, fabricate_png

    # The input is tiny in bytes, so it lands in one split and the codec
    # would run serially: spread the two codec-input columns (projected
    # first, never the text) across every core. q_jpeg_pipeline,
    # q_mjpeg_pipeline and q_wav_pipeline read the same input.
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "n_chars"))
    return decode_pixel_stats(fabricate_png(docs))


register(
    "q_png_pipeline",
    q_png_pipeline,
    """
    WITH dims AS (
        SELECT doc_id,
               n_chars % 13 + 4 AS w,
               n_chars % 7 + 3 AS h,
               doc_id % 251 + 1 AS k
        FROM documents
    ),
    px AS (
        SELECT doc_id, w, h,
               sum((i * k) % 256) AS psum
        FROM dims, unnest(range(0, w * h * 3)) AS t(i)
        GROUP BY doc_id, w, h
    )
    SELECT doc_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS channels,
           'png' AS format,
           CAST(psum % 10007 AS BIGINT) AS pixel_checksum
    FROM px
    """,
)


def q_jpeg_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JPEG-codec certification through the driver gate (VERDICT
    r4 'what's missing' #5): fabricate a genuine baseline JFIF stream
    per document — Huffman-coded quantized DCT blocks, not text — ship
    the binary column through Spark, decode with the same pure-stdlib
    codec (functions.jpegcodec), and emit dims + the exact decoded
    pixel checksum. JPEG is lossy in general, but the fabricated
    images are constant 8×8 tiles with even grayscale values: DC-only
    blocks whose quantized DC is exact, so decode reproduces the input
    BIT-FOR-BIT and the oracle predicts the decoded pixels
    arithmetically — a hash match certifies FDCT → quantize → Huffman
    → parse → Huffman⁻¹ → dequantize → IDCT end to end. Two chained
    Arrow passes, zero shuffle."""
    from ..operators.multimodal import decode_jpeg_pixel_stats, fabricate_jpeg

    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "n_chars"))
    return decode_jpeg_pixel_stats(fabricate_jpeg(docs))


register(
    "q_jpeg_pipeline",
    q_jpeg_pipeline,
    """
    WITH dims AS (
        SELECT doc_id,
               n_chars % 3 + 2 AS tw,
               n_chars % 2 + 2 AS th
        FROM documents
    ),
    px AS (
        SELECT doc_id, tw, th,
               sum(((doc_id * 7 + t.i * 13) % 128) * 2 * 64) AS psum
        FROM dims, unnest(range(0, tw * th)) AS t(i)
        GROUP BY doc_id, tw, th
    )
    SELECT doc_id,
           CAST(tw * 8 AS INTEGER) AS width,
           CAST(th * 8 AS INTEGER) AS height,
           CAST(1 AS INTEGER) AS channels,
           'jpeg' AS format,
           CAST(psum % 10007 AS BIGINT) AS pixel_checksum
    FROM px
    """,
)


def q_mjpeg_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-container certification through the driver gate
    (VERDICT r6 task 5 — the last synthetic-media path made real):
    fabricate a genuine MJPEG-in-AVI per document (RIFF hdrl/movi/idx1
    skeleton wrapping per-frame baseline-JFIF streams), ship the binary
    column through Spark, walk the container, sample every 2nd frame,
    and decode the sampled frames with the certified JPEG codec. The
    frames are DC-only constant-tile images (the q_jpeg_pipeline
    argument), so the oracle predicts each sampled frame's decoded
    pixel checksum arithmetically — a hash match certifies container
    assemble → binary column → chunk walk → frame extract → JPEG
    decode end to end. Two chained Arrow passes, zero shuffle."""
    from ..operators.multimodal import fabricate_avi, frame_sample

    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "n_chars"))
    return frame_sample(fabricate_avi(docs), every_n=2)


register(
    "q_mjpeg_pipeline",
    q_mjpeg_pipeline,
    """
    WITH dims AS (
        SELECT doc_id,
               n_chars % 3 + 2 AS tw,
               n_chars % 2 + 2 AS th,
               n_chars % 4 + 2 AS nf
        FROM documents
    ),
    sampled AS (
        SELECT doc_id, tw, th, f.f AS frame_idx
        FROM dims, unnest(range(0, nf, 2)) AS f(f)
    ),
    px AS (
        SELECT doc_id, frame_idx, tw, th,
               sum(((doc_id * 7 + frame_idx * 11 + t.i * 13) % 128) * 2 * 64)
                   AS psum
        FROM sampled, unnest(range(0, tw * th)) AS t(i)
        GROUP BY doc_id, frame_idx, tw, th
    )
    SELECT doc_id,
           CAST(frame_idx AS BIGINT) AS frame_idx,
           CAST(tw * 8 AS INTEGER) AS width,
           CAST(th * 8 AS INTEGER) AS height,
           CAST(psum % 10007 AS BIGINT) AS pixel_checksum
    FROM px
    """,
)


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing: one row per sampled frame index."""
    from ..operators.multimodal import frame_sample_plan, with_payload

    docs = with_payload(load_table(spark, sf_dir, "documents"))
    return frame_sample_plan(docs)


register(
    "q_frame_sample",
    q_frame_sample,
    """
    SELECT doc_id, unnest(range(0, octet_length(encode(text)) % 300 + 1, 10))
               AS frame_idx
    FROM documents
    """,
)


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style min-hash fingerprint per document."""
    return fingerprint(load_table(spark, sf_dir, "documents"))


register(
    "q_fingerprint",
    q_fingerprint,
    f"""
    WITH sh AS (SELECT doc_id, lower(text) AS ltext, {_SH_SQL} AS sh FROM documents)
    SELECT doc_id,
           coalesce(list_min(list_transform(sh, s -> md5(s))), md5(ltext)) AS fingerprint
    FROM sh
    """,
)


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: k-means coarse quantizer (driver-trained on a bounded
    sample, seeded), distributed cell assignment, nprobe-cell search.
    No SQL oracle exists for k-means state → rows-only certification;
    recall vs the exact brute force is asserted in
    tests/test_llm_ops.py."""
    from ..operators.similarity import ivf_topk

    return ivf_topk(load_table(spark, sf_dir, "embeddings"), n_clusters=8, nprobe=4)


register("q_ann_ivf", q_ann_ivf)  # rows-only: k-means state is not SQL-expressible


def q_ann_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-IVF lifecycle certificate (VERDICT r6 task 3): build
    the index ONCE into a versioned GraphStore (centroids + capped cell
    codes + split history as parquet), then answer top-k TWICE from the
    persisted state — no k-means stage in the query path — and require
    (a) the two persisted-path runs to be identical and (b) the
    persisted answer to equal a FRESH ``ivf_topk`` build with the same
    parameters. Both checks raise on any diff, so the driver's
    rows-only gate is a real certificate: a red row means the persisted
    index diverged from the fresh build. Same params as q_ann_ivf
    (n_clusters=8, nprobe=4), so recall evidence transfers."""
    import os

    from ..operators.equality import multiset_diff_count
    from ..operators.similarity import (
        _load_ivf_state,
        ivf_build,
        ivf_query_persisted,
        ivf_topk,
    )
    from ..streaming.store import GraphStore

    emb = load_table(spark, sf_dir, "embeddings")
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_") or "sf"
    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    store = GraphStore(
        os.path.join(repo_root, "spark-warehouse", f"annidx_{tag}")
    )
    ivf_build(emb, store, n_clusters=8, version=0)
    # The index is frozen after the build: load its tiny state tables
    # once and share across both query runs (r10 — each load is three
    # driver actions of pure fixed cost; the second run still exercises
    # the full persisted query path: assign, split replay, partition-
    # pruned codes read, cogroup ranking).
    state = _load_ivf_state(spark, store)
    # The two persisted-path runs and the fresh rebuild are INDEPENDENT
    # deterministic pipelines over frozen inputs — run them on parallel
    # driver threads (guide §2.6) so each job's straggler tail is
    # back-filled by the next pipeline's tasks instead of idling the
    # executor pool; likewise the two equality aggregations. Same
    # frames, same raise order, answer-identical (r11; the sequential
    # form evaluated all three frames too).
    from ..parallel import run_concurrent

    # Each frame is a cut: the equality checks read all three and the
    # caller reads ``second`` again.
    first, second, fresh = run_concurrent(
        lambda: cut(ivf_query_persisted(emb, store, k=5, nprobe=4, state=state)),
        lambda: cut(ivf_query_persisted(emb, store, k=5, nprobe=4, state=state)),
        lambda: cut(ivf_topk(emb, n_clusters=8, nprobe=4)),
    )
    rerun_diff, build_diff = run_concurrent(
        lambda: multiset_diff_count(first, second),
        lambda: multiset_diff_count(first, fresh),
    )
    if rerun_diff:
        raise RuntimeError(
            f"q_ann_persist: persisted-index queries diverged ({rerun_diff} rows)"
        )
    if build_diff:
        raise RuntimeError(
            f"q_ann_persist: persisted != fresh build ({build_diff} rows)"
        )
    return second


register("q_ann_persist", q_ann_persist)  # rows-only + in-query equality certificate


def q_mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction (binary → array<float>), certified
    value-exact: the feature vector is exploded to (doc_id, dim_idx,
    feat) rows so the DuckDB oracle can reproduce the deterministic
    byte-histogram codec (ASCII fixture ⇒ byte == codepoint) including
    the final float32 quantization (CAST AS REAL)."""
    from ..operators.multimodal import extract_features, with_payload

    docs = with_payload(load_table(spark, sf_dir, "documents"))
    feats = extract_features(docs, dim=16)
    return feats.select(
        "doc_id", F.posexplode("features").alias("dim_idx", "feat")
    ).select("doc_id", F.col("dim_idx").cast("int").alias("dim_idx"), "feat")


register(
    "q_mm_features",
    q_mm_features,
    """
    WITH pos AS (
        SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i
        FROM documents
    ),
    hist AS (
        SELECT doc_id,
               ascii(substring(text, CAST(i AS INTEGER), 1)) % 16 AS k,
               count(*) AS c
        FROM pos GROUP BY doc_id, k
    ),
    filled AS (
        SELECT d.doc_id, gs.k, coalesce(h.c, 0) AS c
        FROM documents d
        CROSS JOIN (SELECT unnest(range(0, 16)) AS k) gs
        LEFT JOIN hist h ON h.doc_id = d.doc_id AND h.k = gs.k
    ),
    normed AS (
        SELECT doc_id, k, c,
               sqrt(sum(CAST(c AS DOUBLE) * c) OVER (PARTITION BY doc_id)) AS nrm
        FROM filled
    )
    SELECT doc_id, CAST(k AS INTEGER) AS dim_idx,
           CAST(CASE WHEN nrm = 0 THEN 0 ELSE c / nrm END AS REAL) AS feat
    FROM normed
    """,
)


def q_mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize (binary → binary + typed dims), certified
    value-exact: the resized payload is rendered as hex so the DuckDB
    oracle can rebuild the deterministic byte-resample
    (``raw[::max(1, n//64)][:64]``) with blob substring + string_agg."""
    from ..operators.multimodal import resize_images, with_payload

    docs = with_payload(load_table(spark, sf_dir, "documents"))
    resized = resize_images(docs, width=64, height=64)
    return resized.select(
        "doc_id", F.hex("payload").alias("payload_hex"), "width", "height"
    )


register(
    "q_mm_resize",
    q_mm_resize,
    """
    WITH b AS (
        -- ASCII corpus: char slicing == byte slicing (hex of the
        -- encoded 1-char substring is the byte; DuckDB substring has
        -- no BLOB overload)
        SELECT doc_id, text, length(text) AS n,
               greatest(1, length(text) // 64) AS step
        FROM documents
    ),
    pieces AS (
        SELECT doc_id, i, hex(encode(substring(text, CAST(i AS INTEGER), 1))) AS h
        FROM b, unnest(range(1, n + 1, step)) AS t(i)
        WHERE i <= 1 + 63 * step
    )
    SELECT b.doc_id, coalesce(p.hexstr, '') AS payload_hex,
           CAST(64 AS INTEGER) AS width, CAST(64 AS INTEGER) AS height
    FROM b LEFT JOIN (
        SELECT doc_id, string_agg(h, '' ORDER BY i) AS hexstr
        FROM pieces GROUP BY doc_id
    ) p USING (doc_id)
    """,
)


def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-5 TF-IDF terms — tf · ln(N/df), 6-dp rounded, word
    tiebreak (operators.text.tfidf_top_terms)."""
    return tfidf_top_terms(load_table(spark, sf_dir, "documents"), k=5)


register(
    "q_tfidf",
    q_tfidf,
    """
    WITH words AS (
        SELECT doc_id, w AS word
        FROM documents, unnest(string_split(lower(text), ' ')) AS t(w)
        WHERE w != ''
    ),
    tf AS (SELECT doc_id, word, count(*) AS tf FROM words GROUP BY doc_id, word),
    dfreq AS (SELECT word, count(DISTINCT doc_id) AS df FROM words GROUP BY word),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.word, tf.tf, dfreq.df,
               round(tf.tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS score
        FROM tf JOIN dfreq USING (word) CROSS JOIN n
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY score DESC, word) AS rank
        FROM scored
    )
    SELECT doc_id, word, tf, df, score, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """,
)


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-curation report: language gate + quality gate + exact-dedup
    survivorship, one verdict row per input doc
    (operators.text.curate_corpus)."""
    return curate_corpus(load_table(spark, sf_dir, "documents"))


# Shared curation CTEs (base → enriched → surv) — used verbatim by
# q_corpus_curation and composed end-to-end by q_llm_pipeline.
_CURATE_CTES_SQL = """base AS (
        SELECT doc_id, text, md5(text) AS content_hash,
               len(list_filter(string_split(lower(text), ' '),
                   w -> w IN ('the','a','and','of','to'))) AS en_hits,
               len(list_filter(string_split(lower(text), ' '),
                   w -> w IN ('der','die','das','und','ist'))) AS de_hits,
               len(list_filter(string_split(lower(text), ' '),
                   w -> w IN ('el','la','de','y','es'))) AS es_hits,
               length(text) AS n_chars,
               len(string_split(lower(text), ' ')) AS n_words,
               len(list_filter(string_split(lower(text), ' '),
                   w -> w IN ('the','a','and','of','to'))) AS stop_hits,
               length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha_chars
        FROM documents
    ),
    enriched AS (
        SELECT doc_id, content_hash,
               CASE WHEN greatest(en_hits, de_hits, es_hits) = 0 THEN 'und'
                    WHEN es_hits >= en_hits AND es_hits >= de_hits THEN 'es'
                    WHEN en_hits >= de_hits THEN 'en'
                    ELSE 'de' END AS predicted_lang,
               CAST(round(
                   CAST(least(n_words / 100.0, 1.0) AS DECIMAL(8,4))
                       * CAST(0.4 AS DECIMAL(2,1))
                   + (CASE WHEN CAST(CAST(round(stop_hits * 1.0 / greatest(n_words, 1), 4)
                                          AS DECIMAL(8,4))
                                 * CAST(5 AS DECIMAL(2,0)) AS DECIMAL(8,4))
                                >= CAST(1 AS DECIMAL(8,4))
                           THEN CAST(1 AS DECIMAL(8,4))
                           ELSE CAST(CAST(round(stop_hits * 1.0 / greatest(n_words, 1), 4)
                                          AS DECIMAL(8,4))
                                     * CAST(5 AS DECIMAL(2,0)) AS DECIMAL(8,4)) END)
                     * CAST(0.3 AS DECIMAL(2,1))
                   + CAST(round(alpha_chars * 1.0 / greatest(n_chars, 1), 4)
                          AS DECIMAL(8,4))
                     * CAST(0.3 AS DECIMAL(2,1)),
                   4) AS DOUBLE) AS quality_score
        FROM base
    ),
    surv AS (
        SELECT content_hash, min(doc_id) AS survivor_id, count(*) AS dup_count
        FROM enriched GROUP BY content_hash
    )"""

register(
    "q_corpus_curation",
    q_corpus_curation,
    f"""
    WITH {_CURATE_CTES_SQL}
    SELECT e.doc_id, e.predicted_lang, e.quality_score, e.content_hash,
           s.dup_count, e.doc_id = s.survivor_id AS is_survivor,
           e.doc_id = s.survivor_id AND e.predicted_lang = 'en'
               AND e.quality_score >= 0.5 AS kept
    FROM enriched e JOIN surv s USING (content_hash)
    """,
)


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: connected components over the exact
    near-dup pair graph (operators.components) — the transitive closure
    that turns pairwise dedup output into per-group survivors. Certified
    against DuckDB's recursive-CTE closure of the same pair set."""
    from ..operators.components import connected_components

    pairs = ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"))
    return connected_components(pairs, src="id_a", dst="id_b")


# Shared recursive-CTE fragment: transitive closure of the exact
# n-gram Jaccard pair graph — the ONE cluster definition used by
# q_dup_clusters, q_cluster_survivors, and plans.curation's
# q_leakage_split (imported there); ends at CTE ``comp``
# (vertex, component=min member id).
_CLOSURE_CTES = f"""sh AS (SELECT doc_id, {_SH_SQL} AS sh FROM documents),
    nonempty AS (SELECT * FROM sh WHERE len(sh) > 0),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM nonempty a JOIN nonempty b ON a.doc_id < b.doc_id
        WHERE round(len(list_intersect(a.sh, b.sh)) * 1.0
                    / len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.5
    ),
    sym AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    verts AS (SELECT DISTINCT a AS v FROM sym),
    reach AS (
        SELECT v, v AS r FROM verts
        UNION
        SELECT reach.v, s.b AS r FROM reach JOIN sym s ON s.a = reach.r
    ),
    comp AS (SELECT v AS vertex, min(r) AS component FROM reach GROUP BY v)"""


register(
    "q_dup_clusters",
    q_dup_clusters,
    f"""
    WITH RECURSIVE {_CLOSURE_CTES}
    SELECT vertex, component FROM comp
    """,
)


BOILER_DF = 10


def q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate signal (the C4 'remove boilerplate'
    stage, shingle-space form): per document, the fraction of its
    distinct 3-gram shingles that are corpus-wide HOT (document
    frequency > 10) — high fractions mark templated/recrawled content.

    Shape: the shingle frame is a CUT so the Arrow shingling
    kernel — the dominant per-row cost — runs once however many plan
    branches read it (the first draft's two branches each re-ran it;
    the sf100 probe measured 12.5× on a 10× step). r10 (VERDICT r9
    task 2): nothing downstream needs the shingle STRINGS — df counting
    and the hot join-back only need shingle IDENTITY, and the output
    carries none — so the persisted frame holds 8-byte xxhash64
    digests, not ~25-byte strings: the cached bytes, the postings
    shuffle and the join-back keys all shrink ~3× (the sf100 19.6×
    cache-crossover row was exactly this frame spilling). Per-doc
    totals come from size() on the cached frame (zero shuffle); the
    postings shuffle once for the df agg; the join-back moves only HOT
    postings (≤ postings/BOILER_DF keys by definition), so the doc_id
    agg touches hot rows only. (Digest equality stands in for string
    equality; distinct shingles colliding in 64-bit hash space is the
    same accepted regime as every xxhash64 keying in the engine.)"""
    from ..operators.dedup import doc_shingles

    sh = cut(
        doc_shingles(load_table(spark, sf_dir, "documents")).select(
            "doc_id",
            F.size("shingles").cast("long").alias("n_shingles"),
            F.expr("transform(shingles, s -> xxhash64(s))").alias("sh_h"),
        )
    )
    ex = sh.select("doc_id", F.explode("sh_h").alias("s"))
    hot = (
        ex.groupBy("s")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > BOILER_DF)
        .select("s")
    )
    n_boiler = (
        ex.join(hot, "s").groupBy("doc_id").agg(F.count("*").alias("n_boiler"))
    )
    return (
        sh.select("doc_id", "n_shingles")
        .join(n_boiler, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_boiler", F.lit(0)).alias("n_boiler"),
            F.round(
                F.coalesce("n_boiler", F.lit(0)) / F.col("n_shingles"), 4
            ).alias("boiler_frac"),
        )
    )


register(
    "q_boilerplate",
    q_boilerplate,
    f"""
    WITH sh AS (SELECT doc_id, {_SH_SQL} AS sh FROM documents),
    ex AS (SELECT doc_id, unnest(sh) AS s FROM sh WHERE len(sh) > 0),
    dfreq AS (SELECT s, count(*) AS df FROM ex GROUP BY s)
    SELECT doc_id, count(*) AS n_shingles,
           count(*) FILTER (WHERE df > {BOILER_DF}) AS n_boiler,
           round((count(*) FILTER (WHERE df > {BOILER_DF})) * 1.0 / count(*), 4)
               AS boiler_frac
    FROM ex JOIN dfreq USING (s)
    GROUP BY doc_id
    """,
)


_SIMHASH64_SIG_SQL = """
        SELECT doc_id,
               array_to_string(list_transform(range(0, 64), p ->
                   CASE WHEN list_sum(list_transform(
                            string_split(lower(text), ' '), w ->
                       CASE WHEN ((CAST(('0x' || substr(md5(w),
                                         CAST(p // 4 AS INTEGER) + 1, 1))
                                        AS INTEGER)
                                   >> CAST(3 - (p % 4) AS INTEGER)) & 1) = 1
                            THEN 1 ELSE -1 END)) > 0
                   THEN '1' ELSE '0' END), '') AS simhash64
        FROM documents
"""

_HAMMING64_SQL = " + ".join(
    f"CASE WHEN substr(sig_a, {p}, 1) <> substr(sig_b, {p}, 1) THEN 1 ELSE 0 END"
    for p in range(1, 65)
)


def q_simhash64_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash hamming≤3 near-dup pairs via 4×16-bit banding —
    the production-width signature where banding genuinely prunes
    (unrelated docs match a 16-bit band with probability ~2^-16);
    pigeonhole-exact for hamming < 4."""
    from ..operators.dedup import simhash64_band_pairs

    return simhash64_band_pairs(load_table(spark, sf_dir, "documents"))


register(
    "q_simhash64_band",
    q_simhash64_band,
    f"""
    WITH sh AS ({_SIMHASH64_SIG_SQL}),
    usig AS (SELECT DISTINCT simhash64 FROM sh),
    bands AS (
        SELECT simhash64, b.band,
               substr(simhash64, b.band * 16 + 1, 16) AS band_bits
        FROM usig, (SELECT unnest(range(0, 4)) AS band) b
    ),
    sig_pairs AS (
        SELECT sig_a, sig_b, {_HAMMING64_SQL} AS hamming
        FROM (
            SELECT DISTINCT a.simhash64 AS sig_a, b.simhash64 AS sig_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.band_bits = b.band_bits
             AND a.simhash64 < b.simhash64
        )
        WHERE {_HAMMING64_SQL} <= 3
    ),
    cross_pairs AS (
        SELECT least(ma.doc_id, mb.doc_id) AS id_a,
               greatest(ma.doc_id, mb.doc_id) AS id_b,
               sp.hamming
        FROM sig_pairs sp
        JOIN sh ma ON ma.simhash64 = sp.sig_a
        JOIN sh mb ON mb.simhash64 = sp.sig_b
    ),
    same_pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, 0 AS hamming
        FROM sh a JOIN sh b
          ON a.simhash64 = b.simhash64 AND a.doc_id < b.doc_id
    )
    SELECT * FROM cross_pairs UNION ALL SELECT * FROM same_pairs
    """,
)


def q_edit_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-verify cascade: 64-bit SimHash banding proposes
    near-dup pairs, exact Levenshtein edit distance verifies them —
    the standard two-stage shape (cheap sketch recall, exact precision
    pass touching ONLY candidates, never corpus×corpus). Both engines
    implement classic edit distance identically."""
    from ..operators.dedup import simhash64_band_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = simhash64_band_pairs(docs, max_hamming=3)
    ta = docs.select(F.col("doc_id").alias("id_a"), F.col("text").alias("text_a"))
    tb = docs.select(F.col("doc_id").alias("id_b"), F.col("text").alias("text_b"))
    return (
        pairs.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a",
            "id_b",
            "hamming",
            F.levenshtein("text_a", "text_b").alias("edit_dist"),
        )
    )


register(
    "q_edit_verify",
    q_edit_verify,
    f"""
    WITH sh AS ({_SIMHASH64_SIG_SQL}),
    usig AS (SELECT DISTINCT simhash64 FROM sh),
    bands AS (
        SELECT simhash64, b.band,
               substr(simhash64, b.band * 16 + 1, 16) AS band_bits
        FROM usig, (SELECT unnest(range(0, 4)) AS band) b
    ),
    sig_pairs AS (
        SELECT sig_a, sig_b, {_HAMMING64_SQL} AS hamming
        FROM (
            SELECT DISTINCT a.simhash64 AS sig_a, b.simhash64 AS sig_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.band_bits = b.band_bits
             AND a.simhash64 < b.simhash64
        )
        WHERE {_HAMMING64_SQL} <= 3
    ),
    all_pairs AS (
        SELECT least(ma.doc_id, mb.doc_id) AS id_a,
               greatest(ma.doc_id, mb.doc_id) AS id_b,
               sp.hamming
        FROM sig_pairs sp
        JOIN sh ma ON ma.simhash64 = sp.sig_a
        JOIN sh mb ON mb.simhash64 = sp.sig_b
        UNION ALL
        SELECT a.doc_id, b.doc_id, 0
        FROM sh a JOIN sh b
          ON a.simhash64 = b.simhash64 AND a.doc_id < b.doc_id
    )
    SELECT p.id_a, p.id_b, p.hamming,
           levenshtein(da.text, db.text) AS edit_dist
    FROM all_pairs p
    JOIN documents da ON da.doc_id = p.id_a
    JOIN documents db ON db.doc_id = p.id_b
    """,
)


def q_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration: for every LSH candidate pair, the
    signature-agreement estimate of Jaccard (matching slots / 12)
    side-by-side with the exact shingle Jaccard — the measurement that
    justifies trusting the sketch at 100 TB, computed only on
    candidates (never all pairs)."""
    from ..operators.dedup import (
        doc_shingles,
        minhash_band_entries,
        minhash_signatures,
    )

    docs = load_table(spark, sf_dir, "documents")
    # Cuts: the shingles feed both kernels and both verify sides, and
    # entries and sigs each feed BOTH sides of a self-join, so without
    # them the 12-md5s-per-shingle signature kernel runs 2× per frame.
    # Both signature-side cuts are small.
    shingled = cut(doc_shingles(docs))
    entries = cut(minhash_band_entries(shingled, "doc_id", 12, 6))
    cands = (
        entries.select("band", "band_hash", F.col("doc_id").alias("id_a"))
        .join(
            entries.select("band", "band_hash", F.col("doc_id").alias("id_b")),
            ["band", "band_hash"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sigs = cut(minhash_signatures(shingled))
    sa = sigs.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"))
    sha = shingled.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    shb = shingled.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    matches = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    exact = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .join(sha, "id_a")
        .join(shb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(matches / F.lit(12.0), 4).alias("est_jaccard"),
            F.round(exact, 4).alias("exact_jaccard"),
        )
    )


register(
    "q_minhash_estimate",
    q_minhash_estimate,
    f"""
    WITH sh AS (SELECT doc_id, {_SH_SQL} AS sh FROM documents),
    nonempty AS (SELECT * FROM sh WHERE len(sh) > 0),
    sigs AS (
        SELECT doc_id, sh,
               list_transform(range(0, 12),
                   j -> list_min(list_transform(sh,
                        s -> md5(CAST(j AS VARCHAR) || ':' || s)))) AS sig
        FROM nonempty
    ),
    bands AS (
        SELECT doc_id, t.range AS band,
               md5(array_to_string(sig[t.range*2+1 : t.range*2+2], '|')) AS band_hash
        FROM sigs, range(0, 6) t
    ),
    cands AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b,
           round(list_sum(list_transform(range(1, 13),
                 i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))
                 / 12.0, 4) AS est_jaccard,
           round(len(list_intersect(sa.sh, sb.sh)) * 1.0
                 / len(list_distinct(list_concat(sa.sh, sb.sh))), 4)
               AS exact_jaccard
    FROM cands c
    JOIN sigs sa ON sa.doc_id = c.id_a
    JOIN sigs sb ON sb.doc_id = c.id_b
    """,
)


def q_cluster_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-survivor selection — the step that turns dup-cluster
    resolution into an actual dedup decision: per connected component of
    the exact near-dup pair graph, keep the longest document (ties
    broken by min doc_id) and report the cluster size. One keyed
    max-struct aggregate over the component labels; at 100 TB this adds
    a single component-keyed shuffle on top of the pair graph."""
    from ..operators.components import connected_components

    docs = load_table(spark, sf_dir, "documents")
    comp = connected_components(
        ngram_jaccard_pairs(docs), src="id_a", dst="id_b"
    )
    j = comp.join(
        docs.select(F.col("doc_id").alias("vertex"), "n_chars"), "vertex"
    )
    # argmax by (n_chars, then MIN doc_id): max of the (n_chars, -id)
    # struct is lexicographic, so the negated id turns the tie-break
    # into a minimum.
    best = F.max(
        F.struct(F.col("n_chars").alias("nc"), (-F.col("vertex")).alias("nid"))
    ).alias("best")
    return (
        j.groupBy("component")
        .agg(F.count("*").alias("cluster_size"), best)
        .select(
            "component",
            (-F.col("best.nid")).alias("survivor_id"),
            "cluster_size",
            F.col("best.nc").alias("survivor_chars"),
        )
    )


register(
    "q_cluster_survivors",
    q_cluster_survivors,
    f"""
    WITH RECURSIVE {_CLOSURE_CTES},
    ranked AS (
        SELECT c.component, d.doc_id, d.n_chars,
               row_number() OVER (PARTITION BY c.component
                                  ORDER BY d.n_chars DESC, d.doc_id) AS rn,
               count(*) OVER (PARTITION BY c.component) AS cluster_size
        FROM comp c JOIN documents d ON d.doc_id = c.vertex
    )
    SELECT component, doc_id AS survivor_id, cluster_size,
           n_chars AS survivor_chars
    FROM ranked WHERE rn = 1
    """,
)


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (operators.similarity.ivfpq_topk): coarse cells +
    8-byte product-quantization codes scanned via ADC lookup tables,
    exact-cosine re-rank of the refine set. k-means state is not
    SQL-expressible → rows-only certification; recall vs brute force is
    asserted in tests/test_llm_ops.py."""
    from ..operators.similarity import ivfpq_topk

    return ivfpq_topk(
        load_table(spark, sf_dir, "embeddings"), n_clusters=8, nprobe=4
    )


register("q_ann_pq", q_ann_pq)  # rows-only: k-means state is not SQL-expressible


def q_cross_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus admission gate: incoming docs (every 3rd doc_id
    plays the re-crawl batch) that near-duplicate an EXISTING corpus
    doc, via cross-side MinHash band collisions + exact Jaccard verify
    — the corpus side is never self-joined
    (operators.dedup.cross_minhash_pairs)."""
    from ..operators.dedup import cross_minhash_pairs

    docs = load_table(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % 3 == 0
    return cross_minhash_pairs(docs.filter(~is_batch), docs.filter(is_batch))


register(
    "q_cross_dedup",
    q_cross_dedup,
    f"""
    WITH sh AS (
        SELECT doc_id, source, {_SH_SQL} AS sh FROM documents
    ),
    nonempty AS (SELECT * FROM sh WHERE len(sh) > 0),
    sigs AS (
        SELECT doc_id, source, sh,
               list_transform(range(0, 12),
                   j -> list_min(list_transform(sh,
                        s -> md5(CAST(j AS VARCHAR) || ':' || s)))) AS sig
        FROM nonempty
    ),
    bands AS (
        SELECT doc_id, source, t.range AS band,
               md5(array_to_string(sig[t.range*2+1 : t.range*2+2], '|')) AS band_hash
        FROM sigs, range(0, 6) t
    ),
    cands AS (
        SELECT DISTINCT a.doc_id AS corpus_id, b.doc_id AS batch_id
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_hash = b.band_hash
        WHERE a.doc_id % 3 != 0 AND b.doc_id % 3 = 0
    )
    SELECT corpus_id, batch_id,
           round(len(list_intersect(sa.sh, sb.sh)) * 1.0
                 / len(list_distinct(list_concat(sa.sh, sb.sh))), 4) AS jaccard
    FROM cands
    JOIN sigs sa ON sa.doc_id = corpus_id
    JOIN sigs sb ON sb.doc_id = batch_id
    WHERE round(len(list_intersect(sa.sh, sb.sh)) * 1.0
                / len(list_distinct(list_concat(sa.sh, sb.sh))), 4) >= 0.5
    """,
)


BM25_QUERY = ("spark", "merge", "window")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 50


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval (operators.text.bm25_topk): top-50 docs
    for a 3-term query, Lucene idf, scored in one corpus scan with a
    broadcast 1-row stats join and a distributed top-k — no
    corpus-proportional shuffle."""
    from ..operators.text import bm25_topk

    return bm25_topk(
        load_table(spark, sf_dir, "documents"),
        BM25_QUERY,
        k1=BM25_K1,
        b=BM25_B,
        k=BM25_TOPK,
    )


def _bm25_sql() -> str:
    tf_exprs = ",\n               ".join(
        f"len(list_filter(string_split(lower(text), ' '), x -> x = '{t}'))"
        f" AS tf_{i}"
        for i, t in enumerate(BM25_QUERY)
    )
    df_exprs = ",\n               ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(BM25_QUERY))
    )
    k1, b = BM25_K1, BM25_B
    parts = " + ".join(
        f"(ln(1 + (n_docs - df_{i} + 0.5) / (df_{i} + 0.5))"
        f" * tf_{i} * {k1 + 1.0}"
        f" / (tf_{i} + {k1} * ({1.0 - b} + {b} * dl / (sum_dl / n_docs))))"
        for i in range(len(BM25_QUERY))
    )
    matched = " + ".join(
        f"(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END)"
        for i in range(len(BM25_QUERY))
    )
    return f"""
    WITH w AS (
        SELECT doc_id,
               len(list_filter(string_split(lower(text), ' '), x -> x != ''))
                   AS dl,
               {tf_exprs}
        FROM documents
    ),
    s AS (
        SELECT count(*) AS n_docs, sum(dl) AS sum_dl,
               {df_exprs}
        FROM w
    )
    SELECT doc_id, dl AS doc_len,
           CAST({matched} AS INTEGER) AS terms_matched,
           round({parts}, 6) AS bm25
    FROM w, s
    WHERE {matched} > 0
    ORDER BY bm25 DESC, doc_id
    LIMIT {BM25_TOPK}
    """


register("q_bm25", q_bm25, _bm25_sql())


CONTAIN_MIN = 0.8


def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact asymmetric n-gram containment ≥ 0.8
    (operators.dedup.ngram_containment_pairs): flags subset/quote
    pairs — |S(A)∩S(B)| / min(|S(A)|,|S(B)|) — that symmetric Jaccard
    dedup misses; same frequency-partitioned inverted-index core."""
    from ..operators.dedup import ngram_containment_pairs

    return ngram_containment_pairs(
        load_table(spark, sf_dir, "documents"), min_containment=CONTAIN_MIN
    )


register(
    "q_containment",
    q_containment,
    f"""
    WITH sh AS (SELECT doc_id, {_SH_SQL} AS sh FROM documents),
    nonempty AS (SELECT * FROM sh WHERE len(sh) > 0)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(a.sh) AS n_a, len(b.sh) AS n_b,
           round(len(list_intersect(a.sh, b.sh)) * 1.0
                 / least(len(a.sh), len(b.sh)), 4) AS containment
    FROM nonempty a JOIN nonempty b ON a.doc_id < b.doc_id
    WHERE round(len(list_intersect(a.sh, b.sh)) * 1.0
                / least(len(a.sh), len(b.sh)), 4) >= {CONTAIN_MIN}
    """,
)


RRF_K = 60
RRF_TOPK = 20
RRF_POOL = 100
RRF_QVEC_ID = 0


def q_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion
    (operators.similarity.rrf_fuse) of the BM25 lexical top-100 and the
    exact cosine top-100 against the query document's embedding
    (doc_id = vec_id in this corpus). The fusion composes rank
    positions, so the incomparable BM25/cosine scales never meet; both
    pools are bounded, so fusion cost is corpus-independent. The
    post-limit lexical rank window orders ≤100 rows (bounded
    SinglePartition by construction)."""
    from pyspark.sql import Window

    from ..operators.similarity import rrf_fuse
    from ..operators.text import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    lex = bm25_topk(
        docs, BM25_QUERY, k1=BM25_K1, b=BM25_B, k=RRF_POOL
    ).withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("bm25"), F.col("doc_id"))),
    )
    vec = brute_force_topk(
        emb.filter(F.col("vec_id") == RRF_QVEC_ID), emb, k=RRF_POOL, dim=64
    ).select(F.col("neighbor_id").alias("doc_id"), "rank")
    return rrf_fuse(
        [lex.select("doc_id", "rank"), vec], k_const=RRF_K, k=RRF_TOPK
    )


register(
    "q_rrf",
    q_rrf,
    f"""
    WITH w AS (
        SELECT doc_id,
               len(list_filter(string_split(lower(text), ' '), x -> x != ''))
                   AS dl,
               len(list_filter(string_split(lower(text), ' '), x -> x = '{BM25_QUERY[0]}')) AS tf_0,
               len(list_filter(string_split(lower(text), ' '), x -> x = '{BM25_QUERY[1]}')) AS tf_1,
               len(list_filter(string_split(lower(text), ' '), x -> x = '{BM25_QUERY[2]}')) AS tf_2
        FROM documents
    ),
    s AS (
        SELECT count(*) AS n_docs, sum(dl) AS sum_dl,
               sum(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS df_0,
               sum(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS df_1,
               sum(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS df_2
        FROM w
    ),
    scored AS (
        SELECT doc_id,
               round(
                 (ln(1 + (n_docs - df_0 + 0.5) / (df_0 + 0.5)) * tf_0 * {BM25_K1 + 1.0}
                  / (tf_0 + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * dl / (sum_dl / n_docs))))
               + (ln(1 + (n_docs - df_1 + 0.5) / (df_1 + 0.5)) * tf_1 * {BM25_K1 + 1.0}
                  / (tf_1 + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * dl / (sum_dl / n_docs))))
               + (ln(1 + (n_docs - df_2 + 0.5) / (df_2 + 0.5)) * tf_2 * {BM25_K1 + 1.0}
                  / (tf_2 + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * dl / (sum_dl / n_docs)))),
               6) AS bm25
        FROM w, s
        WHERE tf_0 > 0 OR tf_1 > 0 OR tf_2 > 0
    ),
    lex AS (
        SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
        FROM scored ORDER BY bm25 DESC, doc_id LIMIT {RRF_POOL}
    ),
    e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    cos AS (
        SELECT c.vec_id AS doc_id,
               round(
                   list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i]))
                   / (sqrt(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * q.v[i])))
                      * sqrt(list_sum(list_transform(range(1, len(c.v) + 1), i -> c.v[i] * c.v[i])))),
                   4) AS cosv
        FROM e q JOIN e c ON c.vec_id != q.vec_id
        WHERE q.vec_id = {RRF_QVEC_ID}
    ),
    vec AS (
        SELECT doc_id, row_number() OVER (ORDER BY cosv DESC, doc_id) AS rank
        FROM cos ORDER BY cosv DESC, doc_id LIMIT {RRF_POOL}
    )
    SELECT doc_id, round(sum(1.0 / ({RRF_K} + rank)), 6) AS rrf,
           CAST(count(*) AS INTEGER) AS n_rankers
    FROM (SELECT * FROM lex UNION ALL SELECT * FROM vec)
    GROUP BY doc_id
    ORDER BY rrf DESC, doc_id
    LIMIT {RRF_TOPK}
    """,
)


HH_PHI = 0.02


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact frequent terms (> 2% of all tokens) via two-phase
    Misra-Gries (operators.sketches.heavy_hitters): per-partition
    sketches nominate a bounded candidate superset, one exact pass
    over only the candidates produces the certified counts — the
    sketch prunes shuffle width, never accuracy."""
    from ..operators.sketches import heavy_hitters

    return heavy_hitters(load_table(spark, sf_dir, "documents"), phi=HH_PHI)


register(
    "q_heavy_hitters",
    q_heavy_hitters,
    f"""
    WITH words AS (
        SELECT w AS word
        FROM documents, unnest(string_split(lower(text), ' ')) AS t(w)
        WHERE w != ''
    ),
    n AS (SELECT count(*) AS n_tokens FROM words)
    SELECT word, count(*) AS n,
           round(count(*) * 1.0 / any_value(n_tokens), 6) AS freq
    FROM words, n
    GROUP BY word
    HAVING count(*) > any_value(n_tokens) * {HH_PHI}
    """,
)


def q_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs n-gram Jaccard ≥ 0.5 via PREFIX FILTERING
    (operators.dedup.jaccard_prefix_pairs) — same certified output as
    q_ngram_jaccard with a strictly stronger guarantee (no df-cap
    drop case): candidates come only from rarest-first prefixes, the
    hot-shingle df² term never enters the join."""
    from ..operators.dedup import jaccard_prefix_pairs

    return jaccard_prefix_pairs(load_table(spark, sf_dir, "documents"))


register(
    "q_jaccard_prefix",
    q_jaccard_prefix,
    f"""
    WITH sh AS (SELECT doc_id, {_SH_SQL} AS sh FROM documents),
    nonempty AS (SELECT * FROM sh WHERE len(sh) > 0)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.sh, b.sh)) * 1.0
                 / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
    FROM nonempty a JOIN nonempty b ON a.doc_id < b.doc_id
    WHERE round(len(list_intersect(a.sh, b.sh)) * 1.0
                / len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.5
    """,
)


def q_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash (aHash) media dedup
    (operators.multimodal.perceptual_hash): deterministic 64-byte
    thumbnail resample → mean-threshold bit string → exact-bucket
    group sizes — the media-side mirror of q_dedup_simhash, running on
    the binary payload column."""
    from pyspark.sql import Window

    from ..operators.multimodal import perceptual_hash, with_payload

    docs = with_payload(load_table(spark, sf_dir, "documents"))
    ph = perceptual_hash(docs)
    return ph.withColumn(
        "n_same", F.count("*").over(Window.partitionBy("phash"))
    )


register(
    "q_phash_dedup",
    q_phash_dedup,
    """
    WITH b AS (
        -- ASCII corpus: char slicing == byte slicing (same proven
        -- equivalence as the q_mm_resize oracle)
        SELECT doc_id, text, length(text) AS n,
               greatest(1, length(text) // 64) AS step
        FROM documents
    ),
    pieces AS (
        SELECT doc_id, i,
               ascii(substring(text, CAST(i AS INTEGER), 1)) AS byte
        FROM b, unnest(range(1, n + 1, step)) AS t(i)
        WHERE i <= 1 + 63 * step
    ),
    agg AS (
        SELECT doc_id, count(*) AS k, sum(byte) AS total
        FROM pieces GROUP BY doc_id
    ),
    hashes AS (
        SELECT p.doc_id,
               string_agg(CASE WHEN p.byte * a.k > a.total
                               THEN '1' ELSE '0' END, '' ORDER BY p.i) AS phash
        FROM pieces p JOIN agg a USING (doc_id)
        GROUP BY p.doc_id
    )
    SELECT doc_id, phash, count(*) OVER (PARTITION BY phash) AS n_same
    FROM hashes
    """,
)


PIPE_CAPACITY = 2048


def q_llm_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END training-data pipeline in ONE certified query:
    curate (lang + quality + exact-dedup survivorship) → keep → count
    tokens → assign train/val/test split → pack into 2048-token
    context windows. One manifest row per kept document:
    (doc_id, split, n_tokens, start, seq_id, crosses_boundary).

    Composition of individually-certified stages (q_corpus_curation,
    q_split_assign, q_pack_sequences) — certifying the COMPOSITION
    catches interface drift between stages that per-stage oracles
    can't. Plan: the curation shuffle (content_hash) + the packing's
    two-phase prefix sum; split assignment is a narrow projection, so
    the composition adds no new corpus-scale shuffle.

    r11 (guide §8 "move heavy bytes once"): the token count rides the
    curation stage's single scan of the text column (``carry=``) — the
    previous form re-scanned the full text payload a second time and
    semi-joined it back to the kept ids, paying one extra full read of
    the corpus' heaviest column for a value computable in the first
    pass. Output unchanged (oracle-pinned): same kept set, same
    n_tokens expression."""
    from ..operators.packing import assign_split, pack_sequences
    from ..operators.text import curate_corpus

    docs = load_table(spark, sf_dir, "documents")
    cur = curate_corpus(
        docs,
        carry={"n_tokens": F.size(F.split(F.col("text"), " "))},
    )
    toks = cur.filter(F.col("kept")).select("doc_id", "n_tokens")
    sp = assign_split(toks)
    packed = pack_sequences(sp, token_col="n_tokens", capacity=PIPE_CAPACITY)
    return packed.join(sp.select("doc_id", "split"), "doc_id").select(
        "doc_id", "split", "n_tokens", "start", "seq_id", "crosses_boundary"
    )


register(
    "q_llm_pipeline",
    q_llm_pipeline,
    f"""
    WITH {_CURATE_CTES_SQL},
    kept AS (
        SELECT e.doc_id
        FROM enriched e JOIN surv s USING (content_hash)
        WHERE e.doc_id = s.survivor_id AND e.predicted_lang = 'en'
          AND e.quality_score >= 0.5
    ),
    t AS (
        SELECT d.doc_id,
               CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
               CASE WHEN substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 1) < 'c'
                         THEN 'train'
                    WHEN substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 1) < 'e'
                         THEN 'val'
                    ELSE 'test' END AS split
        FROM documents d SEMI JOIN kept k ON k.doc_id = d.doc_id
    ),
    c AS (
        SELECT doc_id, split, n_tokens,
               sum(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM t
    )
    SELECT doc_id, split, n_tokens,
           CAST(cum - n_tokens AS BIGINT) AS start,
           CAST((cum - n_tokens) // {PIPE_CAPACITY} AS BIGINT) AS seq_id,
           (cum - n_tokens) // {PIPE_CAPACITY} != (cum - 1) // {PIPE_CAPACITY}
               AS crosses_boundary
    FROM c
    """,
)


GHH_PHI = 0.021


def q_group_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact frequent terms (> 2.1% of the source's tokens)
    via per-(partition, group) Misra-Gries candidate pruning
    (operators.sketches.group_heavy_hitters) — the grouped form of
    q_heavy_hitters, shuffling candidate keys instead of
    groups × vocabulary."""
    from ..operators.sketches import group_heavy_hitters

    return group_heavy_hitters(
        load_table(spark, sf_dir, "documents"), phi=GHH_PHI
    )


register(
    "q_group_heavy_hitters",
    q_group_heavy_hitters,
    f"""
    WITH words AS (
        SELECT source, w AS word
        FROM documents, unnest(string_split(lower(text), ' ')) AS t(w)
        WHERE w != ''
    ),
    totals AS (SELECT source, count(*) AS n_g FROM words GROUP BY source)
    SELECT w.source, w.word, count(*) AS n,
           round(count(*) * 1.0 / any_value(t.n_g), 6) AS freq
    FROM words w JOIN totals t USING (source)
    GROUP BY w.source, w.word
    HAVING count(*) > any_value(t.n_g) * {GHH_PHI}
    """,
)


def q_int8_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization — the storage/transport
    layout a billion-vector ANN corpus actually ships (FAISS SQ8 /
    vector-DB scalar quantization): per-vector scale = max|x|/127,
    code_i = round-half-up(x_i/scale). 4× smaller than float32 with
    recall barely moved, and dot products downstream run on int8 SIMD.

    Certified EXACTLY, no float rendering: the rounding is the portable
    floor(x/scale + 0.5) (both engines define floor identically; no
    banker's-rounding divergence), and the emitted certificate is all
    integers — floor(scale·1e9), L1/L2 of the code vector, saturation
    count. Zero shuffle: one narrow Arrow-free projection, higher-order
    functions only, scales embarrassingly."""
    emb = load_table(spark, sf_dir, "embeddings")
    df = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("xd"),
    ).withColumn(
        "scale", F.array_max(F.transform("xd", F.abs)) / F.lit(127.0)
    )
    codes = F.when(
        F.col("scale") == 0.0,
        F.transform("xd", lambda x: F.lit(0)),
    ).otherwise(
        F.transform(
            "xd", lambda x: F.floor(x / F.col("scale") + F.lit(0.5)).cast("int")
        )
    )
    df = df.withColumn("codes", codes)
    return df.select(
        "vec_id",
        F.floor(F.col("scale") * F.lit(1e9)).cast("bigint").alias("scale_e9"),
        F.aggregate(
            F.transform("codes", F.abs),
            F.lit(0).cast("bigint"),
            lambda a, x: a + x,
        ).alias("l1_codes"),
        F.aggregate(
            "codes",
            F.lit(0).cast("bigint"),
            lambda a, x: a + x.cast("bigint") * x.cast("bigint"),
        ).alias("l2_codes"),
        F.size(F.filter("codes", lambda x: F.abs(x) == 127)).alias("n_sat"),
    )


register(
    "q_int8_quant",
    q_int8_quant,
    """
    WITH s AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd,
               list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
        FROM embeddings
    ),
    c AS (
        SELECT vec_id, scale,
               CASE WHEN scale = 0.0
                    THEN list_transform(xd, x -> 0)
                    ELSE list_transform(xd,
                        x -> CAST(floor(x / scale + 0.5) AS INTEGER))
               END AS codes
        FROM s
    )
    SELECT vec_id,
           CAST(floor(scale * 1e9) AS BIGINT) AS scale_e9,
           CAST(list_sum(list_transform(codes, x -> abs(x))) AS BIGINT)
               AS l1_codes,
           CAST(list_sum(list_transform(codes,
               x -> CAST(x AS BIGINT) * CAST(x AS BIGINT))) AS BIGINT)
               AS l2_codes,
           CAST(len(list_filter(codes, x -> abs(x) = 127)) AS INTEGER) AS n_sat
    FROM c
    """,
)


def q_wav_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio-codec certification through the driver gate — the
    WAV counterpart of q_png_pipeline: fabricate genuine 16-bit PCM
    RIFF payloads per document (sample recurrence a deterministic
    function of (doc_id, n_chars)), ship the binary column, decode
    with the pure-stdlib codec, and emit exact integer acoustics
    (frame energies, zero crossings) from the DECODED samples. The
    oracle recomputes the expected samples arithmetically in SQL, so a
    hash match proves the PCM round-tripped encode → binary column →
    decode bit-exactly. Two chained Arrow passes, zero shuffle."""
    from ..operators.multimodal import decode_audio_stats, fabricate_wav

    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "n_chars"))
    return decode_audio_stats(fabricate_wav(docs))


register(
    "q_wav_pipeline",
    q_wav_pipeline,
    """
    WITH base AS (
        SELECT doc_id, n_chars % 500 + 64 AS n, doc_id % 127 + 1 AS k
        FROM documents
    ),
    s AS (
        SELECT doc_id, n, i, (i * k) % 4001 - 2000 AS v
        FROM base, unnest(range(0, n)) AS t(i)
    ),
    sg AS (
        SELECT doc_id, i, CASE WHEN v > 0 THEN 1 ELSE -1 END AS sgn
        FROM s WHERE v != 0
    ),
    lagged AS (
        SELECT doc_id, sgn,
               lag(sgn) OVER (PARTITION BY doc_id ORDER BY i) AS prev
        FROM sg
    ),
    zc AS (
        SELECT doc_id, count(*) FILTER (WHERE sgn != prev) AS z
        FROM lagged WHERE prev IS NOT NULL GROUP BY doc_id
    )
    SELECT s.doc_id,
           CAST(any_value(s.n) AS BIGINT) AS n_samples,
           CAST((any_value(s.n) + 255) // 256 AS BIGINT) AS n_frames,
           CAST(sum(CAST(s.v AS BIGINT) * s.v) AS BIGINT) AS total_energy,
           CAST(sum(CASE WHEN s.i < 256
                         THEN CAST(s.v AS BIGINT) * s.v ELSE 0 END) AS BIGINT)
               AS energy_f0,
           CAST(coalesce(any_value(zc.z), 0) AS BIGINT) AS n_zero_cross
    FROM s LEFT JOIN zc USING (doc_id)
    GROUP BY s.doc_id
    """,
)


def q_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered admission dedup — the runtime-filter idiom
    made explicit: an incoming batch (doc_id % 10 == 0 plays the new
    arrivals) is checked against the standing corpus by (1) building a
    bloom filter over the SMALL side's content digests (bounded,
    broadcastable — bitwise-OR construction is order-independent, so
    the filter is deterministic), (2) pre-filtering the corpus scan
    through it (at 100 TB this is what keeps the probe from shuffling
    the whole corpus — same mechanism as Spark's AQE runtime bloom,
    applied explicitly), and (3) finishing with the EXACT semi-join on
    the survivors. False positives cost only wasted probe rows; the
    final join restores exactness, which is why the oracle is the
    plain intersection."""
    from ..operators.sketches import (
        bloom_bits_for,
        bloom_build,
        bloom_might_contain,
    )

    # key = digest of the first 8 words (the quote/boilerplate prefix
    # key — full-text digests have no cross-split dups in this corpus,
    # which would certify only the empty set)
    prefix8 = F.md5(
        F.concat_ws(" ", F.slice(F.split(F.lower("text"), " "), 1, 8))
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", prefix8.alias("content_hash")
    )
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)

    # Deterministic bloom over the SMALL side's 64-bit digest keys,
    # built DISTRIBUTIVELY (per-partition bitmap OR-agg — no collect()
    # of batch keys, so the build side may be an ingest increment of
    # any size) and SIZED from a cheap count (~10 bits/key keeps the
    # false-positive rate ~1% instead of saturating a fixed width;
    # ADVICE r7). The batch plays the build side — the q_join_theta
    # posture.
    bkeys = batch.select(F.xxhash64("content_hash").alias("k"))
    m_bits = bloom_bits_for(bkeys.count())
    bitmap = bloom_build(bkeys, "k", m_bits)
    might_contain = bloom_might_contain(spark, bitmap)

    survivors = corpus.filter(might_contain(F.xxhash64("content_hash")))
    return (
        batch.alias("b")
        .join(
            survivors.select("content_hash").distinct().alias("c"),
            "content_hash",
            "left_semi",
        )
        .select("doc_id", "content_hash")
    )


register(
    "q_bloom_prefilter",
    q_bloom_prefilter,
    """
    WITH d AS (
        SELECT doc_id,
               md5(array_to_string(
                   string_split(lower(text), ' ')[1:8], ' ')) AS content_hash
        FROM documents
    ),
    batch AS (SELECT * FROM d WHERE doc_id % 10 = 0),
    corpus AS (SELECT * FROM d WHERE doc_id % 10 != 0)
    SELECT b.doc_id, b.content_hash
    FROM batch b
    WHERE EXISTS (SELECT 1 FROM corpus c
                  WHERE c.content_hash = b.content_hash)
    """,
)


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix — the corpus-governance scout
    a data-mixing pipeline runs before blending sources: for every
    SOURCE pair, the exact count of distinct shared 3-gram shingles
    and the overlap coefficient |A∩B|/min(|A|,|B|). The frame is the
    DISTINCT (source, shingle) set, so the self-join's per-shingle
    blow-up is bounded by the SOURCE count squared (≤ 20² here — never
    doc²); one shingle-keyed exchange + one pair rollup. High overlap
    = shared boilerplate or actual duplication across sources — the
    signal that triggers a cross-source dedup pass (q_cross_dedup)."""
    from ..operators.dedup import doc_shingles

    docs = load_table(spark, sf_dir, "documents")
    sh = (
        doc_shingles(docs, "doc_id", "text")
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("source", F.explode("shingles").alias("shingle"))
        .distinct()
    )
    sizes = sh.groupBy("source").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("source").alias("src_a"), "shingle")
    b = sh.select(F.col("source").alias("src_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        inter.join(
            F.broadcast(sizes.select(F.col("source").alias("src_a"), F.col("n_sh").alias("na"))),
            "src_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("source").alias("src_b"), F.col("n_sh").alias("nb"))),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double")
                / F.least("na", "nb").cast("double"),
                4,
            ).alias("overlap_coef"),
        )
    )


register(
    "q_source_overlap",
    q_source_overlap,
    f"""
    WITH sh AS (
        SELECT DISTINCT source, shingle
        FROM (SELECT source, unnest({_SH_SQL}) AS shingle FROM documents)
    ),
    sizes AS (SELECT source, count(*) AS n_sh FROM sh GROUP BY source),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT src_a, src_b, n_shared,
           round(CAST(n_shared AS DOUBLE)
                 / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE), 4) AS overlap_coef
    FROM inter
    JOIN sizes sa ON sa.source = src_a
    JOIN sizes sb ON sb.source = src_b
    """,
)


def q_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality readout over the EXACT top-5 neighbor lists
    (the q_ann_topk construction): per query, binary relevance = label
    match, exact relevant-count, DCG@5, the ideal DCG for that many
    relevant items, and NDCG — the metric that certifies an ANN/RAG
    index is returning the right neighbors, computed on the same
    engine that built the index. The ranked lists are 5 rows per
    query, so the float DCG sum is a bounded fixed-term fold; every
    count is exact."""
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    topk = brute_force_topk(emb.filter(F.col("vec_id") % 50 == 0), emb, dim=64)
    lab_q = emb.select(F.col("vec_id").alias("query_id"), F.col("label").alias("lq"))
    lab_n = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("ln")
    )
    j = (
        topk.join(F.broadcast(lab_q), "query_id")
        .join(F.broadcast(lab_n), "neighbor_id")
        .withColumn("rel", (F.col("lq") == F.col("ln")).cast("int"))
    )
    log2r = F.log2(F.col("rank").cast("double") + F.lit(1.0))
    # windows can't nest inside aggregates: resolve the per-query
    # relevant count first, then aggregate
    j = j.withColumn("n_rel_w", F.sum("rel").over(W.partitionBy("query_id")))
    per = j.groupBy("query_id").agg(
        F.max("n_rel_w").alias("n_rel"),
        F.round(F.sum(F.col("rel").cast("double") / log2r), 4).alias("dcg"),
        F.round(
            F.sum(
                F.when(
                    F.col("rank") <= F.col("n_rel_w"), F.lit(1.0) / log2r
                ).otherwise(0.0)
            ),
            4,
        ).alias("idcg"),
    )
    return per.select(
        "query_id",
        "n_rel",
        "dcg",
        "idcg",
        F.when(
            F.col("n_rel") > 0, F.round(F.col("dcg") / F.col("idcg"), 4)
        ).alias("ndcg"),
    )


register(
    "q_ndcg",
    q_ndcg,
    """
    WITH e AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               q.label = c.label AS rel,
               round(
                   list_sum(list_transform(range(1, len(q.v) + 1),
                                           i -> q.v[i] * c.v[i]))
                   / (sqrt(list_sum(list_transform(range(1, len(q.v) + 1),
                                                   i -> q.v[i] * q.v[i])))
                      * sqrt(list_sum(list_transform(range(1, len(c.v) + 1),
                                                     i -> c.v[i] * c.v[i])))),
                   4) AS cos
        FROM e q JOIN e c ON q.vec_id != c.vec_id
        WHERE q.vec_id % 50 = 0
    ),
    ranked AS (
        SELECT query_id, rel,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id ASC) AS rank
        FROM scored
    ),
    top AS (
        SELECT *, sum(CASE WHEN rel THEN 1 ELSE 0 END)
                      OVER (PARTITION BY query_id) AS n_rel_w
        FROM ranked WHERE rank <= 5
    ),
    per AS (
        SELECT query_id,
               CAST(max(n_rel_w) AS BIGINT) AS n_rel,
               round(sum(CASE WHEN rel THEN 1.0 ELSE 0.0 END
                         / log2(CAST(rank AS DOUBLE) + 1.0)), 4) AS dcg,
               round(sum(CASE WHEN rank <= n_rel_w
                              THEN 1.0 / log2(CAST(rank AS DOUBLE) + 1.0)
                              ELSE 0.0 END), 4) AS idcg
        FROM top GROUP BY query_id
    )
    SELECT query_id, n_rel, dcg, idcg,
           CASE WHEN n_rel > 0 THEN round(dcg / idcg, 4) END AS ndcg
    FROM per
    """,
)


def q_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality certification ACROSS paths: recall@5 of the
    sign-LSH ANN index against the exact brute-force ground truth, per
    query — |LSH top-5 ∩ exact top-5| / 5 from exact integer counts.
    This is the measurement that decides whether an approximate index
    is shippable, computed by the engine itself; the oracle composes
    the two already-certified constructions (the LSH-bucketed ranking
    and the exact ranking) in SQL, so the driver gate certifies the
    COMPARISON, not just each path."""
    from ..operators.similarity import lsh_topk

    emb = load_table(spark, sf_dir, "embeddings")
    exact = brute_force_topk(
        emb.filter(F.col("vec_id") % 50 == 0), emb, dim=64
    ).select("query_id", "neighbor_id")
    approx = (
        lsh_topk(emb, k=5, bits=4, dim=64)
        .filter(F.col("query_id") % 50 == 0)
        .select("query_id", F.col("neighbor_id").alias("lsh_neighbor"))
    )
    hit = exact.join(
        approx,
        (exact["query_id"] == approx["query_id"])
        & (exact["neighbor_id"] == approx["lsh_neighbor"]),
        "left_semi",
    )
    n_hit = hit.groupBy("query_id").agg(F.count("*").alias("n_hit"))
    n_exact = exact.groupBy("query_id").agg(F.count("*").alias("n_exact"))
    return (
        n_exact.join(n_hit, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_hit", F.lit(0)).cast("bigint").alias("n_hit"),
            F.round(
                F.coalesce("n_hit", F.lit(0)).cast("double")
                / F.col("n_exact").cast("double"),
                4,
            ).alias("recall_at_5"),
        )
    )


def _recall_oracle() -> str:
    from .registry import ORACLE

    return f"""
    WITH exact_top AS ({ORACLE["q_ann_topk"]}),
    lsh_top AS ({ORACLE["q_ann_lsh"]}),
    hits AS (
        SELECT e.query_id, count(*) AS n_hit
        FROM exact_top e
        WHERE EXISTS (SELECT 1 FROM lsh_top l
                      WHERE l.query_id = e.query_id
                        AND l.neighbor_id = e.neighbor_id
                        AND l.query_id % 50 = 0)
        GROUP BY e.query_id
    ),
    totals AS (
        SELECT query_id, count(*) AS n_exact FROM exact_top GROUP BY query_id
    )
    SELECT t.query_id, CAST(t.n_exact AS BIGINT) AS n_exact,
           CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
           round(CAST(coalesce(h.n_hit, 0) AS DOUBLE)
                 / CAST(t.n_exact AS DOUBLE), 4) AS recall_at_5
    FROM totals t LEFT JOIN hits h USING (query_id)
    """


register("q_recall_at_k", q_recall_at_k, _recall_oracle())


MMR_C = 16  # candidate-list size per query
MMR_K = 4  # picks
MMR_LAM = 7  # λ·10


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity re-ranking (operators/similarity.mmr_rerank):
    greedy argmax 0.7·rel − 0.3·max-sim-to-picked over per-query
    candidate lists, the pass between ANN retrieval and the final RAG
    context. Relevance/similarity are INTEGER dots over the certified
    int8 codes (q_int8_quant's portable quantization), λ folds into an
    all-integer objective, ties break on the smaller id — so the
    oracle replays the exact greedy trace with four unrolled argmax
    steps. Candidates here are a deterministic id-window standing in
    for the certified ANN top-C path (q_ann_topk / q_ann_lsh produce
    them in production; MMR is agnostic to the candidate source), so
    the certificate isolates the RE-RANKING semantics."""
    from ..operators.similarity import mmr_rerank

    emb = load_table(spark, sf_dir, "embeddings")
    quant = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("xd"),
    ).withColumn(
        "scale", F.array_max(F.transform("xd", F.abs)) / F.lit(127.0)
    )
    codes = quant.select(
        "vec_id",
        F.when(
            F.col("scale") == 0.0, F.transform("xd", lambda x: F.lit(0))
        )
        .otherwise(
            F.transform(
                "xd",
                lambda x: F.floor(x / F.col("scale") + F.lit(0.5)).cast(
                    "int"
                ),
            )
        )
        .alias("codes"),
    )
    queries = codes.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("codes").alias("qc")
    )
    cand_ids = queries.withColumn(
        "neighbor_id",
        F.explode(
            F.sequence(
                F.col("query_id") + 1, F.col("query_id") + F.lit(MMR_C)
            )
        ),
    )
    cand = cand_ids.join(
        codes.select(
            F.col("vec_id").alias("neighbor_id"), F.col("codes").alias("c")
        ),
        "neighbor_id",
    ).select(
        "query_id",
        "neighbor_id",
        F.aggregate(
            F.zip_with(
                "qc", "c", lambda a, b: a.cast("long") * b.cast("long")
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("rel"),
    )
    return mmr_rerank(
        cand, codes, k=MMR_K, lam_num=MMR_LAM
    )


_MMR_CODES_SQL = """
    q8 AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd,
               list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
        FROM embeddings
    ),
    codes AS (
        SELECT vec_id,
               CASE WHEN scale = 0.0
                    THEN list_transform(xd, x -> CAST(0 AS DOUBLE))
                    ELSE list_transform(xd, x -> floor(x / scale + 0.5))
               END AS cd
        FROM q8
    )
"""

register(
    "q_mmr_rerank",
    q_mmr_rerank,
    f"""
    WITH {_MMR_CODES_SQL},
    cand AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST(list_dot_product(q.cd, c.cd) AS BIGINT) AS rel
        FROM codes q JOIN codes c
          ON c.vec_id BETWEEN q.vec_id + 1 AND q.vec_id + {MMR_C}
        WHERE q.vec_id % 50 = 0
    ),
    sims AS (
        SELECT a.query_id, a.neighbor_id AS i, b.neighbor_id AS j,
               CAST(list_dot_product(ca.cd, cb.cd) AS BIGINT) AS sim
        FROM cand a
        JOIN cand b USING (query_id)
        JOIN codes ca ON ca.vec_id = a.neighbor_id
        JOIN codes cb ON cb.vec_id = b.neighbor_id
    ),
    p1 AS (
        SELECT query_id, neighbor_id AS v1, {MMR_LAM} * rel AS s1
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY rel DESC, neighbor_id) AS rn FROM cand)
        WHERE rn = 1
    ),
    r2 AS (
        SELECT c.query_id, c.neighbor_id,
               {MMR_LAM} * c.rel - {10 - MMR_LAM} * s.sim AS score10
        FROM cand c
        JOIN p1 ON p1.query_id = c.query_id
        JOIN sims s ON s.query_id = c.query_id
               AND s.i = c.neighbor_id AND s.j = p1.v1
        WHERE c.neighbor_id != p1.v1
    ),
    p2 AS (
        SELECT query_id, neighbor_id AS v2, score10 AS s2
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY score10 DESC, neighbor_id) AS rn FROM r2)
        WHERE rn = 1
    ),
    r3 AS (
        SELECT c.query_id, c.neighbor_id,
               {MMR_LAM} * c.rel
               - {10 - MMR_LAM} * greatest(sa.sim, sb.sim) AS score10
        FROM cand c
        JOIN p1 ON p1.query_id = c.query_id
        JOIN p2 ON p2.query_id = c.query_id
        JOIN sims sa ON sa.query_id = c.query_id
               AND sa.i = c.neighbor_id AND sa.j = p1.v1
        JOIN sims sb ON sb.query_id = c.query_id
               AND sb.i = c.neighbor_id AND sb.j = p2.v2
        WHERE c.neighbor_id NOT IN (p1.v1, p2.v2)
    ),
    p3 AS (
        SELECT query_id, neighbor_id AS v3, score10 AS s3
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY score10 DESC, neighbor_id) AS rn FROM r3)
        WHERE rn = 1
    ),
    r4 AS (
        SELECT c.query_id, c.neighbor_id,
               {MMR_LAM} * c.rel
               - {10 - MMR_LAM} * greatest(sa.sim, sb.sim, sc.sim)
                   AS score10
        FROM cand c
        JOIN p1 ON p1.query_id = c.query_id
        JOIN p2 ON p2.query_id = c.query_id
        JOIN p3 ON p3.query_id = c.query_id
        JOIN sims sa ON sa.query_id = c.query_id
               AND sa.i = c.neighbor_id AND sa.j = p1.v1
        JOIN sims sb ON sb.query_id = c.query_id
               AND sb.i = c.neighbor_id AND sb.j = p2.v2
        JOIN sims sc ON sc.query_id = c.query_id
               AND sc.i = c.neighbor_id AND sc.j = p3.v3
        WHERE c.neighbor_id NOT IN (p1.v1, p2.v2, p3.v3)
    ),
    p4 AS (
        SELECT query_id, neighbor_id AS v4, score10 AS s4
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY score10 DESC, neighbor_id) AS rn FROM r4)
        WHERE rn = 1
    )
    SELECT query_id, 1 AS pick_rank, v1 AS vec_id, CAST(s1 AS BIGINT)
               AS score10 FROM p1
    UNION ALL
    SELECT query_id, 2, v2, CAST(s2 AS BIGINT) FROM p2
    UNION ALL
    SELECT query_id, 3, v3, CAST(s3 AS BIGINT) FROM p3
    UNION ALL
    SELECT query_id, 4, v4, CAST(s4 AS BIGINT) FROM p4
    """,
)


KNN_K = 5


def q_knn_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN CLASSIFICATION EVAL composed from the certified exact-ANN
    path: every 7th vector is held out as a query, its top-5 cosine
    neighbors (brute_force_topk — the q_ann_topk kernel, self
    excluded) vote by majority with deterministic ties (higher count,
    then smaller label), and the output is the exact confusion matrix
    (true_label × predicted_label × count). The standard
    embedding-quality probe: if labels aren't recoverable from
    neighborhoods, the embedding isn't ready for semantic dedup or
    retrieval. Scale: the vote is one count agg + one per-(query)
    window over ≤k rows on top of the ANN candidates; eval cost tracks
    the query sample, not the corpus."""
    from ..operators.similarity import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 7 == 0)
    topk = brute_force_topk(queries, emb, k=KNN_K, dim=64)
    votes = (
        topk.join(
            emb.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("n_label"),
            ),
            "neighbor_id",
        )
        .groupBy("query_id", "n_label")
        .agg(F.count("*").alias("votes"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("n_label").asc()
    )
    pred = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("n_label").alias("pred_label"))
    )
    truth = queries.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    return (
        truth.join(pred, "query_id")
        .groupBy("true_label", "pred_label")
        .agg(F.count("*").alias("n"))
    )


register(
    "q_knn_classifier",
    q_knn_classifier,
    f"""
    WITH e AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS n_label,
               round(
                   list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i]))
                   / (sqrt(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * q.v[i])))
                      * sqrt(list_sum(list_transform(range(1, len(c.v) + 1), i -> c.v[i] * c.v[i])))),
                   4) AS cos
        FROM e q JOIN e c ON q.vec_id != c.vec_id
        WHERE q.vec_id % 7 = 0
    ),
    topk AS (
        SELECT query_id, n_label FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                         ORDER BY cos DESC, neighbor_id ASC) AS rank
            FROM scored
        ) WHERE rank <= {KNN_K}
    ),
    votes AS (
        SELECT query_id, n_label, count(*) AS votes
        FROM topk GROUP BY query_id, n_label
    ),
    pred AS (
        SELECT query_id, n_label AS pred_label FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                         ORDER BY votes DESC, n_label ASC) AS rn
            FROM votes
        ) WHERE rn = 1
    )
    SELECT t.label AS true_label, p.pred_label, count(*) AS n
    FROM e t JOIN pred p ON p.query_id = t.vec_id
    GROUP BY 1, 2
    """,
)
