"""Certified queries for dataset-curation operators that compose the
dedup/similarity machinery into training-set decisions (no reference
counterpart — BASELINE.json north-star scope):

- ``q_leakage_split`` — group-aware train/val/test split: near-dup
  clusters (connected components of the exact Jaccard pair graph) are
  assigned to ONE split via the md5 bucket of the cluster's canonical
  id, eliminating train→eval near-dup leakage that a per-doc hash
  split cannot prevent (Lee et al. 2022, "Deduplicating Training Data
  Makes Language Models Better", §6 observes exactly this leakage).
- ``q_semdedup`` — SemDeDup (Abbas et al. 2023): within-cluster
  embedding-cosine dedup verdicts; pairwise scoring never leaves the
  coarse cluster, so there is no corpus×corpus stage.
- ``q_classifier`` — linear quality-classifier inference over the
  embedding column (the GPT-3/LLaMA "quality filter" stage shape): a
  broadcast weight vector, one JVM-side fold per row, zero shuffles.
  Weights are a deterministic integer formula so the oracle evaluates
  the identical model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import ngram_jaccard_pairs
from ..operators.packing import leakage_safe_split
from ..operators.similarity import brute_force_topk, dot, semantic_dedup
from ..sources import load_table
from .llm import _CLOSURE_CTES
from .registry import register


def q_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe split: md5 bucket of the near-dup cluster's
    canonical id (min member), so a cluster never straddles splits."""
    docs = load_table(spark, sf_dir, "documents")
    return leakage_safe_split(docs.select("doc_id"), ngram_jaccard_pairs(docs))


register(
    "q_leakage_split",
    q_leakage_split,
    f"""
    WITH RECURSIVE {_CLOSURE_CTES}
    SELECT d.doc_id,
           coalesce(c.component, d.doc_id) AS group_id,
           CASE WHEN substring(md5(CAST(coalesce(c.component, d.doc_id)
                                        AS VARCHAR)), 1, 1) < 'c' THEN 'train'
                WHEN substring(md5(CAST(coalesce(c.component, d.doc_id)
                                        AS VARCHAR)), 1, 1) < 'e' THEN 'val'
                ELSE 'test' END AS split
    FROM documents d LEFT JOIN comp c ON c.vertex = d.doc_id
    """,
)


SEMDEDUP_MIN_COS = 0.4


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup verdicts: drop a vector iff a smaller-id vector in the
    same coarse cluster (the ``label`` column standing in for the IVF
    assignment) has cosine ≥ 0.4."""
    return semantic_dedup(
        load_table(spark, sf_dir, "embeddings"), min_cosine=SEMDEDUP_MIN_COS
    )


register(
    "q_semdedup",
    q_semdedup,
    f"""
    WITH e AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    d AS (
        SELECT DISTINCT b.vec_id
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE round(
            list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
            / (sqrt(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * a.v[i])))
               * sqrt(list_sum(list_transform(range(1, len(b.v) + 1), i -> b.v[i] * b.v[i])))),
            4) >= {SEMDEDUP_MIN_COS}
    )
    SELECT e.vec_id, e.label, (d.vec_id IS NULL) AS keep
    FROM e LEFT JOIN d ON d.vec_id = e.vec_id
    """,
)


# Target AVERAGE bucket size for the adaptively-sized sign sketch: the
# width grows with log2(corpus/target), so within-bucket pair mass
# stays ~corpus·target — LINEAR. The fixed 6-bit first draft was
# quadratic in disguise: the sf100 probe measured 76× on a 10× step
# (bucket count frozen while bucket size grew 10× per decade).
SEMDEDUP_TARGET = 64


def q_semdedup_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale twin of q_semdedup (the 13.3× sf10 row's documented bound,
    ALSO certified on its scale path): the coarse cluster is a seeded
    sign-LSH bucket instead of the fixed label column, with the sketch
    width derived from the corpus count (``adaptive_sign_bits``) so the
    average bucket stays ~SEMDEDUP_TARGET rows at every scale — the
    SemDeDup-paper sizing posture. Unlike a k-means assignment the
    bucket is ORACLE-EXPRESSIBLE: the engine computes the first
    ``bits`` hyperplanes, the oracle substrings the 16-bit sign string
    by the same count-derived width (the Rademacher stream fills
    row-major, so narrow families are prefixes of wide ones), and the
    full keep-first verdict set stays strict-certifiable."""
    from ..operators.similarity import adaptive_sign_bits, with_sign_bucket

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    bits = adaptive_sign_bits(emb.count(), SEMDEDUP_TARGET)
    emb = with_sign_bucket(emb, "embedding", bits=bits, dim=64)
    return semantic_dedup(
        emb, cluster_col="bucket", min_cosine=SEMDEDUP_MIN_COS
    )


def _register_semdedup_scaled():
    from ..operators.similarity import (
        SIGN_BITS_MAX,
        adaptive_sign_bits_sql,
        sign_bucket_expr,
    )

    register(
        "q_semdedup_scaled",
        q_semdedup_scaled,
        f"""
        WITH n AS (SELECT count(*) AS n_rows FROM embeddings),
        e AS (
            SELECT vec_id,
                   substring(
                       {sign_bucket_expr("embedding", bits=SIGN_BITS_MAX, dim=64, one_based=True)},
                       1, {adaptive_sign_bits_sql("n.n_rows", SEMDEDUP_TARGET)})
                       AS bucket,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings, n
        ),
        d AS (
            SELECT DISTINCT b.vec_id
            FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            WHERE round(
                list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
                / (sqrt(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * a.v[i])))
                   * sqrt(list_sum(list_transform(range(1, len(b.v) + 1), i -> b.v[i] * b.v[i])))),
                4) >= {SEMDEDUP_MIN_COS}
        )
        SELECT e.vec_id, e.bucket, (d.vec_id IS NULL) AS keep
        FROM e LEFT JOIN d ON d.vec_id = e.vec_id
        """,
    )


_register_semdedup_scaled()


HARDNEG_K = 3


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor
    (vec_id % 50 = 0), the top-3 most-similar vectors of a DIFFERENT
    label — exact, via the blocked brute-force kernel with same-class
    candidates masked inside the matmul (operators.similarity.
    brute_force_topk(exclude_label_col=...)). The triplet-mining step
    of every embedding-model pipeline; swap the brute-force kernel for
    the IVF path at corpus scale, the masking is unchanged."""
    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(
        emb.filter(F.col("vec_id") % 50 == 0),
        emb,
        k=HARDNEG_K,
        exclude_label_col="label",
    )


register(
    "q_hard_negatives",
    q_hard_negatives,
    f"""
    WITH e AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(
                   list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i]))
                   / (sqrt(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * q.v[i])))
                      * sqrt(list_sum(list_transform(range(1, len(c.v) + 1), i -> c.v[i] * c.v[i])))),
                   4) AS cos
        FROM e q JOIN e c ON q.label != c.label
        WHERE q.vec_id % 50 = 0
    )
    SELECT query_id, neighbor_id, cos, CAST(rank AS INT) AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id ASC) AS rank
        FROM scored
    ) WHERE rank <= {HARDNEG_K}
    """,
)


# Target AVERAGE candidate-bucket size for hard-negative mining: pair
# mass is Σ_b anchors_b·|b| ≈ anchors·target — linear in the corpus
# when the width tracks it (the fixed 4-bit draft grew 22× on the
# sf10→sf100 step).
HARDNEG_TARGET = 128


def q_hard_negatives_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale twin of q_hard_negatives (the 17.1× sf10 row's documented
    bound, ALSO certified on its scale path): candidates come from the
    anchor's seeded sign-LSH bucket instead of the whole corpus, with
    the sketch width derived from the corpus count so the average
    bucket stays ~HARDNEG_TARGET rows — pair mass Σ_b anchors_b·|b|
    stays linear at every scale (the IVF posture SCALING.md promised
    for this row). Identical masking (different-label, no self) and
    ranking rule; the adaptively-sized Rademacher bucket is the same
    ORACLE-EXPRESSIBLE family q_semdedup_scaled certifies (prefix
    property + count-derived substring), so the approximate answer
    itself is strict-checked, not just row-counted."""
    from ..operators.similarity import adaptive_sign_bits, lsh_hard_negatives

    emb = load_table(spark, sf_dir, "embeddings")
    bits = adaptive_sign_bits(emb.count(), HARDNEG_TARGET)
    return lsh_hard_negatives(
        emb,
        anchor_pred=F.col("vec_id") % 50 == 0,
        k=HARDNEG_K,
        bits=bits,
    )


def _register_hard_negatives_scaled():
    from ..operators.similarity import (
        SIGN_BITS_MAX,
        adaptive_sign_bits_sql,
        sign_bucket_expr,
    )

    register(
        "q_hard_negatives_scaled",
        q_hard_negatives_scaled,
        f"""
        WITH n AS (SELECT count(*) AS n_rows FROM embeddings),
        e AS (
            SELECT vec_id, label,
                   substring(
                       {sign_bucket_expr("embedding", bits=SIGN_BITS_MAX, dim=64, one_based=True)},
                       1, {adaptive_sign_bits_sql("n.n_rows", HARDNEG_TARGET)})
                       AS bucket,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings, n
        ),
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   round(
                       list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i]))
                       / (sqrt(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * q.v[i])))
                          * sqrt(list_sum(list_transform(range(1, len(c.v) + 1), i -> c.v[i] * c.v[i])))),
                       4) AS cos
            FROM e q JOIN e c ON q.bucket = c.bucket AND q.label != c.label
            WHERE q.vec_id % 50 = 0
        )
        SELECT query_id, neighbor_id, cos, CAST(rank AS INT) AS rank FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cos DESC, neighbor_id ASC) AS rank
            FROM scored
        ) WHERE rank <= {HARDNEG_K}
        """,
    )


_register_hard_negatives_scaled()


# Deterministic 64-dim weight vector shared by both engines: a small
# integer recurrence, NOT trained — what's certified is the inference
# plumbing (broadcast weights, per-row fold, threshold), the part that
# survives swapping in real fasttext/LR weights.
CLASSIFIER_W = [((7 * i + 3) % 13 - 6) / 10.0 for i in range(64)]


def q_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier inference: sigmoid(w·v) per embedding,
    4 dp, plus the keep verdict at the 0.5 operating point. One
    narrow projection — zero shuffles, scales with the scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    w = F.array(*[F.lit(x) for x in CLASSIFIER_W])
    z = dot(F.col("embedding"), w)
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 4)
    return emb.select(
        "vec_id",
        score.alias("score"),
        (score >= F.lit(0.5)).alias("pred"),
    )


register(
    "q_classifier",
    q_classifier,
    f"""
    WITH w AS (SELECT {list(CLASSIFIER_W)}::DOUBLE[] AS w),
    scored AS (
        SELECT vec_id,
               round(1.0 / (1.0 + exp(-list_sum(list_transform(
                   range(1, 65),
                   i -> CAST(embedding[i] AS DOUBLE) * w.w[i])))), 4) AS score
        FROM embeddings, w
    )
    SELECT vec_id, score, (score >= 0.5) AS pred FROM scored
    """,
)


def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding — the categorical-feature encoder
    of gradient-boosting / tabular-DL pipelines, in its leakage-safe
    form: each row's category code is the mean target of the OTHER
    rows in its category, ``(Σ_cat − x) / (n_cat − 1)``. Computed as
    one category hash-agg broadcast back onto the scan (the category
    dimension is small; no window over the fact table), with the
    numerator/denominator kept in exact integer cents and ONE double
    division at the end — bit-identical across engines, the
    q_regression numeric discipline. Singleton categories encode NULL
    (no leave-one-out estimate exists)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    stats = ev.groupBy("event_type").agg(
        F.sum("cents").alias("s"), F.count("*").alias("n")
    )
    loo_num = F.col("s") - F.col("cents")
    loo_den = F.col("n") - F.lit(1)
    return ev.join(F.broadcast(stats), "event_type").select(
        "event_id",
        "event_type",
        F.when(
            loo_den > 0, loo_num.cast("double") / loo_den.cast("double")
        ).alias("te_cents"),
    )


register(
    "q_target_encode",
    q_target_encode,
    """
    WITH ev AS (
        SELECT event_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    stats AS (
        SELECT event_type, sum(cents) AS s, count(*) AS n
        FROM ev GROUP BY event_type
    )
    SELECT ev.event_id, ev.event_type,
           CASE WHEN stats.n > 1
                THEN CAST(stats.s - ev.cents AS DOUBLE)
                     / CAST(stats.n - 1 AS DOUBLE)
           END AS te_cents
    FROM ev JOIN stats USING (event_type)
    """,
)


FHASH_DIM = 64


def q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization (Weinberger et al. 2009): each
    (feature, value) pair maps to one of ``FHASH_DIM`` buckets via an
    ENGINE-PORTABLE hash — two md5 hex digits decoded positionally
    (``strpos`` over the hex alphabet; Spark's ``hash``/``xxhash64``
    seeds don't match other engines, md5 does). Zero shuffle until the
    final per-bucket rollup; the per-row bucket assignment scales with
    the scan. Emits the collision-aware bucket load per feature
    namespace — the sizing diagnostic for choosing the dimension."""
    ev = load_table(spark, sf_dir, "events")

    def bucket(feat: str, val) -> tuple:
        s = F.concat(F.lit(feat), F.lit("="), val.cast("string"))
        h = F.md5(s)
        d = "0123456789abcdef"
        v1 = F.instr(F.lit(d), F.substring(h, 1, 1)) - 1
        v2 = F.instr(F.lit(d), F.substring(h, 2, 1)) - 1
        return (F.lit(feat), F.pmod(v1 * 16 + v2, F.lit(FHASH_DIM)))

    t_feat, t_bucket = bucket("type", F.col("event_type"))
    u_feat, u_bucket = bucket("user", F.col("user_id") % 100)
    pairs = ev.select(
        F.explode(
            F.array(
                F.struct(t_feat.alias("feat"), t_bucket.alias("bucket")),
                F.struct(u_feat.alias("feat"), u_bucket.alias("bucket")),
            )
        ).alias("p")
    ).select("p.feat", "p.bucket")
    return pairs.groupBy("feat", "bucket").agg(F.count("*").alias("n"))


register(
    "q_feature_hash",
    q_feature_hash,
    f"""
    WITH pairs AS (
        SELECT 'type' AS feat,
               ((strpos('0123456789abcdef', substring(md5('type=' || event_type), 1, 1)) - 1) * 16
                + strpos('0123456789abcdef', substring(md5('type=' || event_type), 2, 1)) - 1)
                   % {FHASH_DIM} AS bucket
        FROM events
        UNION ALL
        SELECT 'user',
               ((strpos('0123456789abcdef', substring(md5('user=' || CAST(user_id % 100 AS VARCHAR)), 1, 1)) - 1) * 16
                + strpos('0123456789abcdef', substring(md5('user=' || CAST(user_id % 100 AS VARCHAR)), 2, 1)) - 1)
                   % {FHASH_DIM}
        FROM events
    )
    SELECT feat, bucket, count(*) AS n FROM pairs GROUP BY feat, bucket
    """,
)


QNORM_GRID = 100  # percentile grid resolution


def q_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization — the data-mixing step that
    puts heterogeneous sources' score distributions on ONE scale (so a
    length/quality threshold means the same thing for every source):
    each doc's within-source percent_rank (deterministic doc_id
    tiebreak) is linearly interpolated into the GLOBAL type-7 quantile
    grid of the same measure. The grid is resolved by ONE bounded
    101-value driver action and folded in as literals — the BM25
    anchor-literal posture, so the scoring pass is a pure projection
    over the ranked scan (no 1-row cross join, no extra stage); the
    rank is one source-keyed window; the interpolation is a per-row
    expression — no fact-table self-join anywhere."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    grid_vals = docs.agg(
        F.percentile(
            "n_chars", F.array(*[F.lit(i / QNORM_GRID) for i in range(QNORM_GRID + 1)])
        ).alias("qg")
    ).first()["qg"]
    qg = F.array(*[F.lit(float(v)) for v in grid_vals])
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = docs.withColumn("pr", F.percent_rank().over(w))
    pos = F.col("pr") * QNORM_GRID
    idx = F.floor(pos).cast("int")
    frac = pos - idx
    lo = F.element_at(qg, idx + 1)
    hi = F.element_at(qg, F.least(idx + F.lit(2), F.lit(QNORM_GRID + 1)))
    return ranked.select(
        "doc_id",
        "source",
        F.round("pr", 4).alias("pr"),
        F.round(lo + frac * (hi - lo), 4).alias("norm_chars"),
    )


register(
    "q_quantile_norm",
    q_quantile_norm,
    f"""
    WITH docs AS (SELECT doc_id, source, n_chars FROM documents),
    grid AS (
        SELECT quantile_cont(n_chars,
                             {[i / QNORM_GRID for i in range(QNORM_GRID + 1)]})
                   AS qg
        FROM docs
    ),
    ranked AS (
        SELECT doc_id, source, n_chars,
               percent_rank() OVER (PARTITION BY source
                                    ORDER BY n_chars, doc_id) AS pr
        FROM docs
    )
    SELECT doc_id, source, round(pr, 4) AS pr,
           round(qg[CAST(floor(pr * {QNORM_GRID}) AS INT) + 1]
                 + (pr * {QNORM_GRID} - floor(pr * {QNORM_GRID}))
                   * (qg[least(CAST(floor(pr * {QNORM_GRID}) AS INT) + 2,
                               {QNORM_GRID + 1})]
                      - qg[CAST(floor(pr * {QNORM_GRID}) AS INT) + 1]), 4)
               AS norm_chars
    FROM ranked, grid
    """,
)


DSIR_TARGET = "src0"  # deterministic target domain for the fixture


def q_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every
    raw-pool document by the unigram log-likelihood ratio between a
    TARGET domain (here: source '{DSIR_TARGET}') and the raw pool —
    the data-selection stage that upweights in-domain text before
    pretraining. Add-1 smoothing over the SHARED vocabulary on both
    sides; per-doc score = Σ count(w)·(ln p_t(w) − ln p_r(w)), 4 dp.

    Scale posture: word counts are two keyed hash aggs over the token
    explode (linear); the three corpus totals (N_target, N_raw, |V|)
    are ONE bounded driver action turned into literals (the TF-IDF
    posture); scoring joins each doc's term vector against the
    vocab-bounded model table — vocabulary-sized, broadcast-able,
    never corpus×corpus. Per-term log factors are identical IEEE
    doubles in both engines; the per-doc sum is vocabulary-bounded
    (the q_entropy summation posture)."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        "source",
        F.explode(F.split(F.lower("text"), " ")).alias("word"),
    ).filter(F.col("word") != "")
    is_t = F.col("source") == DSIR_TARGET
    model = words.groupBy("word").agg(
        F.count_if(is_t).alias("c_t"),
        F.count_if(~is_t).alias("c_r"),
    )
    tot = model.agg(
        F.sum("c_t").alias("nt"),
        F.sum("c_r").alias("nr"),
        F.count("*").alias("v"),
    ).first()
    nt, nr, v = int(tot["nt"]), int(tot["nr"]), int(tot["v"])
    lr = F.log((F.col("c_t") + 1).cast("double") / F.lit(float(nt + v))) - F.log(
        (F.col("c_r") + 1).cast("double") / F.lit(float(nr + v))
    )
    doc_terms = (
        words.filter(~is_t)
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("c_w"))
    )
    return (
        doc_terms.join(model.select("word", lr.alias("lr")), "word")
        .groupBy("doc_id")
        .agg(
            F.sum("c_w").alias("n_words"),
            F.round(F.sum(F.col("c_w") * F.col("lr")), 4).alias("dsir_score"),
        )
    )


register(
    "q_dsir",
    q_dsir,
    f"""
    WITH words AS (
        SELECT doc_id, source, w AS word
        FROM documents, unnest(string_split(lower(text), ' ')) AS t(w)
        WHERE w != ''
    ),
    model AS (
        SELECT word,
               count(*) FILTER (WHERE source = '{DSIR_TARGET}') AS c_t,
               count(*) FILTER (WHERE source != '{DSIR_TARGET}') AS c_r
        FROM words GROUP BY word
    ),
    tot AS (
        SELECT CAST(sum(c_t) AS BIGINT) AS nt, CAST(sum(c_r) AS BIGINT) AS nr,
               count(*) AS v
        FROM model
    ),
    doc_terms AS (
        SELECT doc_id, word, count(*) AS c_w
        FROM words WHERE source != '{DSIR_TARGET}'
        GROUP BY doc_id, word
    )
    SELECT d.doc_id,
           CAST(sum(d.c_w) AS BIGINT) AS n_words,
           round(sum(d.c_w * (ln(CAST(m.c_t + 1 AS DOUBLE)
                                 / CAST(t.nt + t.v AS DOUBLE))
                              - ln(CAST(m.c_r + 1 AS DOUBLE)
                                   / CAST(t.nr + t.v AS DOUBLE)))), 4)
               AS dsir_score
    FROM doc_terms d
    JOIN model m USING (word)
    CROSS JOIN tot t
    GROUP BY d.doc_id
    """,
)


KANON_K = 5


def q_kanonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit — the release-governance gate a training-data
    pipeline runs before publishing user-derived datasets (Sweeney
    2002): group the table by its quasi-identifier combination
    (nation, market segment, coarse balance band) and flag every
    equivalence class smaller than k={KANON_K} — those rows are
    re-identifiable and must be suppressed or generalized before
    release. One hash aggregate; the flagged-class list is what the
    suppression pass consumes. At 100 TB this is the same keyed-agg
    shape as any rollup — no window, no self-join."""
    cust = load_table(spark, sf_dir, "customer")
    qi = [
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        (F.floor(F.col("c_acctbal").cast("double") / 2000) * 2000)
        .cast("bigint")
        .alias("balance_band"),
    ]
    return (
        cust.groupBy(*qi)
        .agg(F.count("*").alias("class_size"))
        .withColumn("is_risky", F.col("class_size") < KANON_K)
    )


register(
    "q_kanonymity",
    q_kanonymity,
    f"""
    SELECT c_nationkey AS nation,
           c_mktsegment AS segment,
           CAST(floor(CAST(c_acctbal AS DOUBLE) / 2000) * 2000 AS BIGINT)
               AS balance_band,
           count(*) AS class_size,
           count(*) < {KANON_K} AS is_risky
    FROM customer
    GROUP BY 1, 2, 3
    """,
)


DP_SCALE = 2.0  # Laplace b = sensitivity/epsilon = 1/0.5


def q_dp_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy-CALIBRATED noisy release counts — the
    noise-injection pipeline shape (count → add Laplace(b) → release)
    with a SEEDED inverse-CDF draw so the whole path is certifiable:
    u = md5-derived 52-bit fraction (exact: 16^13 = 2^52, so u and the
    centered |c| are exact powers-of-two arithmetic in BOTH engines),
    noise = −b·sign(c)·ln(1−2|c|). A production release would swap the
    seeded u for a CSPRNG draw — everything else (sensitivity-scaled
    b, the transform, the release projection) is the real mechanism.

    One keyed aggregate + per-row scalar math; at 100 TB the noisy
    release is dimension-sized."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count("*").alias("n"))
    u_int = F.expr(
        "aggregate(sequence(1, 13), cast(0 as double), (acc, p) -> "
        "acc * 16.0D + cast(locate(substr(md5(concat('dp:', event_type)), "
        "p, 1), '0123456789abcdef') - 1 as double))"
    )
    u = u_int / F.lit(4503599627370496.0)  # 16^13 = 2^52, exact division
    c = u - F.lit(0.5)
    noise = (
        F.lit(-DP_SCALE)
        * F.signum(c)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(c))
    )
    return counts.select(
        "event_type",
        "n",
        F.round(noise, 4).alias("noise"),
        F.round(F.col("n") + noise, 4).alias("noisy_n"),
    )


register(
    "q_dp_noise",
    q_dp_noise,
    f"""
    WITH counts AS (
        SELECT event_type, count(*) AS n FROM events GROUP BY event_type
    ),
    seeded AS (
        SELECT event_type, n,
               list_sum(list_transform(range(1, 14), p ->
                   (strpos('0123456789abcdef',
                           substr(md5('dp:' || event_type), p, 1)) - 1)
                   * 16.0 ** (13 - p))) / 4503599627370496.0 AS u
        FROM counts
    )
    SELECT event_type, n,
           round(-{DP_SCALE} * sign(u - 0.5)
                 * ln(1.0 - 2.0 * abs(u - 0.5)), 4) AS noise,
           round(n + (-{DP_SCALE} * sign(u - 0.5)
                      * ln(1.0 - 2.0 * abs(u - 0.5))), 4) AS noisy_n
    FROM seeded
    """,
)


def _scored_labeled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared eval frame: the certified classifier score (q_classifier's
    exact construction) beside the binary truth label (label % 2)."""
    emb = load_table(spark, sf_dir, "embeddings")
    w = F.array(*[F.lit(x) for x in CLASSIFIER_W])
    z = dot(F.col("embedding"), w)
    return emb.select(
        "vec_id",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 4).alias("score"),
        (F.col("label") % 2 == 1).alias("truth"),
    )


_SCORED_SQL = """
    scored AS (
        SELECT vec_id,
               round(1.0 / (1.0 + exp(-list_sum(list_transform(
                   range(1, 65),
                   i -> CAST(embedding[i] AS DOUBLE) * w.w[i])))), 4) AS score,
               (label % 2 = 1) AS truth
        FROM embeddings, w
    )
"""


def q_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation — confusion matrix at the 0.5 operating
    point plus precision/recall/F1, over the certified linear-model
    scores and the parity truth label: one pass, four conditional
    counts (exact BIGINTs), three guarded ratios. The eval readout
    every model-gated curation pipeline reports."""
    s = _scored_labeled(spark, sf_dir)
    pred = F.col("score") >= 0.5
    agg = s.agg(
        F.count_if(pred & F.col("truth")).alias("tp"),
        F.count_if(pred & ~F.col("truth")).alias("fp"),
        F.count_if(~pred & F.col("truth")).alias("fn"),
        F.count_if(~pred & ~F.col("truth")).alias("tn"),
    )
    prec = F.col("tp").cast("double") / (F.col("tp") + F.col("fp")).cast("double")
    rec = F.col("tp").cast("double") / (F.col("tp") + F.col("fn")).cast("double")
    return agg.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.when(F.col("tp") + F.col("fp") > 0, F.round(prec, 4)).alias("precision"),
        F.when(F.col("tp") + F.col("fn") > 0, F.round(rec, 4)).alias("recall"),
        F.when(
            F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn") > 0,
            F.round(
                F.lit(2.0)
                * F.col("tp").cast("double")
                / (F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn")).cast(
                    "double"
                ),
                4,
            ),
        ).alias("f1"),
    )


register(
    "q_confusion",
    q_confusion,
    f"""
    WITH w AS (SELECT {list(CLASSIFIER_W)}::DOUBLE[] AS w),
    {_SCORED_SQL},
    agg AS (
        SELECT CAST(count(*) FILTER (WHERE score >= 0.5 AND truth) AS BIGINT)
                   AS tp,
               CAST(count(*) FILTER (WHERE score >= 0.5 AND NOT truth) AS BIGINT)
                   AS fp,
               CAST(count(*) FILTER (WHERE score < 0.5 AND truth) AS BIGINT)
                   AS fn,
               CAST(count(*) FILTER (WHERE score < 0.5 AND NOT truth) AS BIGINT)
                   AS tn
        FROM scored
    )
    SELECT tp, fp, fn, tn,
           CASE WHEN tp + fp > 0
                THEN round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 4)
           END AS precision,
           CASE WHEN tp + fn > 0
                THEN round(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 4)
           END AS recall,
           CASE WHEN 2 * tp + fp + fn > 0
                THEN round(2.0 * CAST(tp AS DOUBLE)
                           / CAST(2 * tp + fp + fn AS DOUBLE), 4)
           END AS f1
    FROM agg
    """,
)


def q_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC via the tie-corrected Mann-Whitney rank sum: with
    r_min the min-rank of each distinct score and c its tie count,
    every row's 2×average-rank is the INTEGER 2·r_min + c − 1, so
    2·Σranks over positives is an exact BIGINT and
    AUC = (2·Σranks_pos − 2·binom) / (2·n_pos·n_neg) needs ONE double
    division — no sort-order or float-accumulation caveats, ties
    (guaranteed by the 4 dp score grid) handled exactly. Scale shape:
    reduce to one row per DISTINCT score first (keyed hash agg), then
    the min-rank comes from the DISTRIBUTED two-phase prefix sum
    (operators/rank.py) over the distinct-score frame — no
    single-partition rank window over the eval set. With cum the
    inclusive running row count at score s and c its tie count,
    2·avg_rank = 2·(cum − c + 1) + c − 1 = 2·cum − c + 1 exactly."""
    from etl_neptune_spark.operators.rank import prefix_sums

    s = _scored_labeled(spark, sf_dir)
    per = s.groupBy("score").agg(
        F.count("*").alias("c"),
        F.count_if(F.col("truth")).alias("pos_c"),
    )
    cs = prefix_sums(per, [F.asc("score")], sums={"cum": F.col("c")})
    r2 = F.lit(2) * F.col("cum") - F.col("c") + F.lit(1)
    agg = cs.agg(
        F.sum("pos_c").alias("n_pos"),
        F.sum(F.col("c") - F.col("pos_c")).alias("n_neg"),
        F.sum(F.col("pos_c") * r2).alias("ranksum2_pos"),
    )
    num = F.col("ranksum2_pos") - F.col("n_pos") * (F.col("n_pos") + 1)
    den = F.lit(2) * F.col("n_pos") * F.col("n_neg")
    return agg.select(
        "n_pos",
        "n_neg",
        F.col("ranksum2_pos").cast("bigint").alias("ranksum2_pos"),
        F.when(den != 0, F.round(num.cast("double") / den.cast("double"), 6))
        .alias("auc"),
    )


register(
    "q_auc",
    q_auc,
    f"""
    WITH w AS (SELECT {list(CLASSIFIER_W)}::DOUBLE[] AS w),
    {_SCORED_SQL},
    ranked AS (
        SELECT truth,
               2 * rank() OVER (ORDER BY score)
                   + count(*) OVER (PARTITION BY score) - 1 AS r2
        FROM scored
    ),
    agg AS (
        SELECT CAST(count(*) FILTER (WHERE truth) AS BIGINT) AS n_pos,
               CAST(count(*) FILTER (WHERE NOT truth) AS BIGINT) AS n_neg,
               CAST(sum(CASE WHEN truth THEN r2 ELSE 0 END) AS BIGINT)
                   AS ranksum2_pos
        FROM ranked
    )
    SELECT n_pos, n_neg, ranksum2_pos,
           CASE WHEN n_pos * n_neg != 0
                THEN round(CAST(ranksum2_pos - n_pos * (n_pos + 1) AS DOUBLE)
                           / CAST(2 * n_pos * n_neg AS DOUBLE), 6)
           END AS auc
    FROM agg
    """,
)


def q_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram bins for the certified classifier: score
    bucketed into fixed 0.1-wide bins (data-independent boundaries),
    per bin the exact count, positive count, observed rate, and the
    bin's mean score — the calibration readout (is a 0.7 really a
    70%?). One hash agg; every certificate column but two ratios is an
    exact BIGINT (mean score from the exact sum of 4 dp scores scaled
    ×10⁴ to integers)."""
    s = _scored_labeled(spark, sf_dir)
    binned = s.select(
        F.least(F.floor(F.col("score") * 10).cast("int"), F.lit(9)).alias("bin"),
        # floor(x+0.5): double->int CAST truncates in Spark, rounds in
        # DuckDB — snap portably
        F.floor(F.col("score") * 10000 + F.lit(0.5)).cast("bigint").alias("score_e4"),
        "truth",
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.count_if(F.col("truth")).alias("n_pos"),
            F.sum("score_e4").alias("sum_score_e4"),
        )
        .select(
            "bin",
            "n",
            "n_pos",
            "sum_score_e4",
            F.round(
                F.col("n_pos").cast("double") / F.col("n").cast("double"), 4
            ).alias("observed_rate"),
            F.round(
                F.col("sum_score_e4").cast("double")
                / (F.col("n").cast("double") * F.lit(10000.0)),
                4,
            ).alias("mean_score"),
        )
    )


register(
    "q_calibration",
    q_calibration,
    f"""
    WITH w AS (SELECT {list(CLASSIFIER_W)}::DOUBLE[] AS w),
    {_SCORED_SQL},
    binned AS (
        SELECT least(CAST(floor(score * 10) AS INTEGER), 9) AS bin,
               CAST(floor(score * 10000 + 0.5) AS BIGINT) AS score_e4,
               truth
        FROM scored
    )
    SELECT bin, count(*) AS n,
           CAST(count(*) FILTER (WHERE truth) AS BIGINT) AS n_pos,
           CAST(sum(score_e4) AS BIGINT) AS sum_score_e4,
           round(CAST(count(*) FILTER (WHERE truth) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 4) AS observed_rate,
           round(CAST(sum(score_e4) AS DOUBLE)
                 / (CAST(count(*) AS DOUBLE) * 10000.0), 4) AS mean_score
    FROM binned GROUP BY bin
    """,
)


def q_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-gains deciles (the lift-curve table): rank by
    classifier score descending, ntile into 10, per decile the exact
    positive counts and the cumulative share of all positives captured
    — 'the top 20% of scores catch X% of the positives', the
    campaign-targeting readout. Decile assignment via the DISTRIBUTED
    two-phase rank (operators/rank.py) + closed-form NTILE from (i, n)
    — no single-partition ntile window over the eval set; exact
    integers everywhere but the share."""
    from pyspark.sql import Window as W

    from etl_neptune_spark.operators.rank import ntile_from_rank, prefix_sums

    s = _scored_labeled(spark, sf_dir)
    ranked = prefix_sums(
        s,
        [F.desc("score"), F.asc("vec_id")],
        row_number="_i",
        totals={"_n": "_i"},
    )
    dec = ranked.select(
        ntile_from_rank(F.col("_i"), F.col("_n"), 10)
        .cast("int")
        .alias("decile"),
        F.col("truth").cast("int").alias("pos"),
    )
    agg = dec.groupBy("decile").agg(
        F.count("*").alias("n"), F.sum("pos").alias("n_pos")
    )
    wc = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    wt = W.partitionBy()
    return agg.select(
        "decile",
        "n",
        F.col("n_pos").cast("bigint").alias("n_pos"),
        F.sum("n_pos").over(wc).cast("bigint").alias("cum_pos"),
        F.round(
            F.sum("n_pos").over(wc).cast("double")
            / F.sum("n_pos").over(wt).cast("double"),
            4,
        ).alias("cum_capture"),
    )


register(
    "q_gains",
    q_gains,
    f"""
    WITH w AS (SELECT {list(CLASSIFIER_W)}::DOUBLE[] AS w),
    {_SCORED_SQL},
    dec AS (
        SELECT ntile(10) OVER (ORDER BY score DESC, vec_id) AS decile,
               CASE WHEN truth THEN 1 ELSE 0 END AS pos
        FROM scored
    ),
    agg AS (
        SELECT decile, count(*) AS n, CAST(sum(pos) AS BIGINT) AS n_pos
        FROM dec GROUP BY decile
    )
    SELECT CAST(decile AS INTEGER) AS decile, n, n_pos,
           CAST(sum(n_pos) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS cum_pos,
           round(CAST(sum(n_pos) OVER (ORDER BY decile
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                 / CAST(sum(n_pos) OVER () AS DOUBLE), 4) AS cum_capture
    FROM agg
    """,
)


DECON_N = 8  # benchmark-decontamination n-gram length (GPT-3 used 13;
# 8 matches this corpus's short documents while staying discriminative
# — measured: 1 of 490 non-eval docs collides at sf0.01)
DECON_EVAL_MOD = 50  # doc_id % MOD == 0 plays the held-out benchmark


def q_decontaminate_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LONG-n-gram benchmark decontamination (the GPT-3 appendix-C /
    PaLM posture; complements corpus.py's 3-gram q_decontaminate):
    flag training documents sharing any long n-gram with the held-out
    eval set, BEFORE training — the leakage class q_leakage_split
    cannot see (eval sets are curated, not near-dup clusters).

    Plan shape: eval-side DISTINCT n-grams (a benchmark is tiny next
    to the corpus) inner-join the corpus posting list on the n-gram
    key, count per doc, left-join back — one keyed shuffle on the
    n-gram, corpus never self-joins. At 100 TB the eval side is
    broadcast-able; here it rides the same hash join. Exact integers:
    n_overlap is a count of DISTINCT shared n-grams."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.lower("text"), " ")
    grams = F.array_distinct(
        F.transform(
            F.sequence(
                F.lit(1),
                F.greatest(F.size(words) - (DECON_N - 1), F.lit(0)),
            ),
            lambda i: F.array_join(F.slice(words, i, DECON_N), " "),
        )
    )
    sh = docs.select("doc_id", F.explode(grams).alias("g"))
    ev = (
        sh.filter(F.col("doc_id") % DECON_EVAL_MOD == 0)
        .select("g")
        .distinct()
    )
    corpus = docs.filter(F.col("doc_id") % DECON_EVAL_MOD != 0)
    hits = (
        sh.filter(F.col("doc_id") % DECON_EVAL_MOD != 0)
        .join(ev, "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    return (
        corpus.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_overlap"), F.lit(0))
            .cast("bigint")
            .alias("n_overlap"),
            (F.coalesce(F.col("n_overlap"), F.lit(0)) > 0).alias(
                "contaminated"
            ),
        )
    )


register(
    "q_decontaminate_long",
    q_decontaminate_long,
    f"""
    WITH docs AS (SELECT doc_id, lower(text) AS t FROM documents),
    sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
            range(1, greatest(len(string_split(t, ' ')) - {DECON_N - 1}, 0) + 1),
            i -> array_to_string((string_split(t, ' '))[i:i+{DECON_N - 1}], ' ')
        ))) AS g
        FROM docs
    ),
    ev AS (SELECT DISTINCT g FROM sh WHERE doc_id % {DECON_EVAL_MOD} = 0),
    hits AS (
        SELECT sh.doc_id, count(*) AS n_overlap
        FROM sh JOIN ev USING (g)
        WHERE sh.doc_id % {DECON_EVAL_MOD} != 0
        GROUP BY sh.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(h.n_overlap, 0) AS BIGINT) AS n_overlap,
           coalesce(h.n_overlap, 0) > 0 AS contaminated
    FROM docs d LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE d.doc_id % {DECON_EVAL_MOD} != 0
    """,
)
