"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

No reference counterpart (BASELINE.json north star). All native
expressions — a 100 TB corpus pass stays entirely inside whole-stage
codegen with per-row cost independent of corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny marker-word lists per language — the classical stopword-hit
# heuristic (real deployments swap in proper n-gram profiles; the
# operator shape — score per language, argmax with deterministic
# tiebreak — is what matters).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "de", "y", "es"),
}

# BPE-ish pre-tokenizer: word pieces, digit runs, or single punctuation.
TOKEN_REGEX = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def _marker_hits(words: Column, markers: tuple[str, ...]) -> Column:
    return F.size(F.filter(words, lambda w: w.isin(*markers)))


def lang_id(text: Column) -> Column:
    """Predicted language = argmax of marker-hit counts with
    deterministic tiebreak ('und' when no marker hits at all)."""
    words = F.split(F.lower(text), " ")
    scored = F.array(
        *[
            F.struct(
                _marker_hits(words, marks).alias("hits"), F.lit(lang).alias("lang")
            )
            for lang, marks in LANG_MARKERS.items()
        ]
    )
    best = F.array_max(scored)
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def quality_score(text: Column) -> Column:
    """The blended 0-1 quality score as a standalone column expression
    (shared by ``quality_features`` and ``curate_corpus``). The
    weighted sum runs in decimal so the rounded score is identical
    under any summation order / engine."""
    words = F.split(F.lower(text), " ")
    n_chars = F.length(text)
    n_words = F.size(words)
    stop_hits = _marker_hits(words, LANG_MARKERS["en"])
    alpha_chars = F.length(F.regexp_replace(text, "[^a-zA-Z]", ""))
    stop_ratio = F.round(stop_hits / F.greatest(n_words, F.lit(1)), 4)
    alpha_ratio = F.round(alpha_chars / F.greatest(n_chars, F.lit(1)), 4)
    dec = "decimal(8,4)"
    len_term = F.least(n_words / F.lit(100.0), F.lit(1.0)).cast(dec)
    stop_term = F.least(
        (stop_ratio.cast(dec) * F.lit("5").cast("decimal(2,0)")).cast(dec),
        F.lit("1").cast(dec),
    )
    return F.round(
        len_term * F.lit("0.4").cast("decimal(2,1)")
        + stop_term * F.lit("0.3").cast("decimal(2,1)")
        + alpha_ratio.cast(dec) * F.lit("0.3").cast("decimal(2,1)"),
        4,
    ).cast("double")


def quality_features(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc quality signals: length, word stats, stopword ratio,
    alpha ratio, plus a blended 0-1 score."""
    text = F.col(text_col)
    words = F.split(F.lower(text), " ")
    n_chars = F.length(text)
    n_words = F.size(words)
    stop_hits = _marker_hits(words, LANG_MARKERS["en"])
    alpha_chars = F.length(F.regexp_replace(text, "[^a-zA-Z]", ""))
    avg_word_len = F.round(
        (n_chars - (n_words - 1)) / F.greatest(n_words, F.lit(1)), 4
    )
    stop_ratio = F.round(stop_hits / F.greatest(n_words, F.lit(1)), 4)
    alpha_ratio = F.round(alpha_chars / F.greatest(n_chars, F.lit(1)), 4)
    score = quality_score(text)
    return docs.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        avg_word_len.alias("avg_word_len"),
        stop_ratio.alias("stop_ratio"),
        alpha_ratio.alias("alpha_ratio"),
        score.alias("quality_score"),
    )


def token_counts(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Whitespace tokens, BPE-ish regex tokens, and the chars/4
    estimator — the three cheap token-budget estimates."""
    text = F.col(text_col)
    return docs.select(
        F.col(id_col),
        F.size(F.split(text, " ")).alias("ws_tokens"),
        F.size(F.regexp_extract_all(text, F.lit(TOKEN_REGEX), 0)).alias("re_tokens"),
        (F.length(text) / 4).cast("bigint").alias("est_tokens"),
    )


def unigram_logprob(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """CCNet-style fluency proxy: score each document by the MEAN LOG
    PROBABILITY of its words under the corpus's own unigram
    distribution — gibberish and boilerplate-free outliers score low,
    typical prose scores high. The standard cheap stand-in for a KenLM
    perplexity gate in a training-data quality pipeline.

    Plan: one word explosion feeding a corpus-frequency hash agg, one
    equi-join back on the word, one per-doc agg — all keyed, all
    linear. The corpus word total resolves to a driver literal (one
    bounded count action, the lookback-anchor pattern) so the log-prob
    expression is a constant-folded scalar.
    """
    words = docs.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("word"),
    ).filter(F.col("word") != "")
    total = words.count()
    freq = words.groupBy("word").agg(F.count("*").alias("c"))
    return (
        words.join(freq, "word")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_words"),
            F.round(
                F.avg(F.log(F.col("c").cast("double") / F.lit(float(total)))), 4
            ).alias("avg_logprob"),
        )
    )


def tfidf_top_terms(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 5
) -> DataFrame:
    """Per-document top-k TF-IDF terms (tf · ln(N/df), rounded 6 dp,
    ties broken by word).

    Scale posture: the word explosion is linear in corpus size; the
    plan is two hash aggregations (term frequency per doc, document
    frequency per word), one equi-join on the word, and one per-doc
    ranking window — every shuffle keyed and linear. N is resolved to
    a driver literal (one bounded count action, the same pattern as
    the lookback anchor) so the idf is a pushable constant expression.
    """
    from pyspark.sql import Window

    words = docs.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("word"),
    ).filter(F.col("word") != "")
    n_docs = docs.count()
    tf = words.groupBy(id_col, "word").agg(F.count("*").alias("tf"))
    dfreq = words.groupBy("word").agg(F.count_distinct(id_col).alias("df"))
    scored = tf.join(dfreq, "word").withColumn(
        "score",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("word"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(id_col, "word", "tf", "df", "score", "rank")
    )


_CURATION_COLUMNS = (
    "predicted_lang",
    "quality_score",
    "content_hash",
    "dup_count",
    "is_survivor",
    "kept",
)


def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.5,
    keep_lang: str = "en",
    carry: dict[str, Column] | None = None,
) -> DataFrame:
    """Training-corpus curation report: language gate, quality gate,
    and exact-dedup survivorship composed in one pass — the canonical
    first stage of a 100 TB data pipeline.

    One row per INPUT doc with its verdicts (auditable, unlike a
    filter-only plan): predicted_lang, quality_score, content_hash,
    dup_count, is_survivor (min-id per hash), and the final ``kept``
    flag. Plan: one projection (all native exprs), one groupBy and one
    join both keyed on content_hash — the exchange is reused, so the
    whole report costs a single shuffle.

    ``carry`` (r11): extra named columns computed in the SAME first
    projection and appended (in dict order) after the report columns —
    a downstream stage that needs one more text-derived value (e.g. a
    token count) rides the single scan of the heavy text column instead
    of paying a second full read plus a join-back (guide §8 "move heavy
    bytes once"). The report columns themselves are unchanged
    (pinned by test_curate_corpus_carry_rides_the_scan). A carried name
    that collides with ``id_col`` or a report column raises
    ``ValueError``."""
    text = F.col(text_col)
    carry = carry or {}
    clash = sorted(set(carry) & {id_col, "survivor_id", *_CURATION_COLUMNS})
    if clash:
        raise ValueError(
            f"curate_corpus: carry keys {clash} collide with id_col or a "
            "report column"
        )
    enriched = docs.select(
        F.col(id_col),
        lang_id(text).alias("predicted_lang"),
        quality_score(text).alias("quality_score"),
        F.md5(text).alias("content_hash"),
        *[expr.alias(name) for name, expr in carry.items()],
    )
    surv = enriched.groupBy("content_hash").agg(
        F.min(id_col).alias("survivor_id"), F.count("*").alias("dup_count")
    )
    return (
        enriched.join(surv, "content_hash")
        .withColumn("is_survivor", F.col(id_col) == F.col("survivor_id"))
        .withColumn(
            "kept",
            F.col("is_survivor")
            & (F.col("predicted_lang") == keep_lang)
            & (F.col("quality_score") >= min_quality),
        )
        .select(id_col, *_CURATION_COLUMNS, *carry.keys())
    )


def fingerprint(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Winnowing-style document fingerprint: the minimum hash over the
    rolling word n-gram windows (one representative hash per doc —
    equal fingerprints ⇒ near-identical prefixes of content)."""
    from .dedup import word_shingles

    sh = word_shingles(F.col(text_col), n)
    fp = F.array_min(F.transform(sh, lambda s: F.md5(s)))
    return docs.select(
        F.col(id_col),
        F.coalesce(fp, F.md5(F.lower(F.col(text_col)))).alias("fingerprint"),
    )


def _run_fold(sorted_arr: Column) -> Column:
    """Longest run of equal adjacent elements in a sorted array — i.e.
    the count of the most frequent element — as a single O(n) codegen
    fold (state: previous element, current run, best run). Shuffle-free
    per-row alternative to explode + groupBy."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def step(acc, x):
        run = F.when(acc["prev"].eqNullSafe(x), acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(sorted_arr, init, step, lambda acc: acc["best"])


def repetition_features(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_top_word_frac: float = 0.2,
    max_top_bigram_frac: float = 0.2,
    min_distinct_ratio: float = 0.3,
) -> DataFrame:
    """Gopher-style repetition filters: fraction of words taken by the
    single most frequent word / bigram, distinct-word ratio, and the
    keep/drop verdict. Entirely per-row native expressions (sort +
    fold), so a 100 TB pass is shuffle-free whole-stage codegen with
    cost O(words · log words) per document."""
    words = F.split(F.lower(F.col(text_col)), " ")
    n = F.size(words)
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.concat_ws(" ", F.element_at(words, i + 1),
                                  F.element_at(words, i + 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    top_word = _run_fold(F.array_sort(words))
    top_bigram = F.when(n >= 2, _run_fold(F.array_sort(bigrams))).otherwise(F.lit(0))
    n_safe = F.greatest(n, F.lit(1))
    top_word_frac = F.round(top_word / n_safe, 4)
    top_bigram_frac = F.round(top_bigram * 2 / n_safe, 4)
    distinct_ratio = F.round(F.size(F.array_distinct(words)) / n_safe, 4)
    keep = (
        (top_word_frac <= max_top_word_frac)
        & (top_bigram_frac <= max_top_bigram_frac)
        & (distinct_ratio >= min_distinct_ratio)
    )
    return docs.select(
        F.col(id_col),
        n.alias("n_words"),
        top_word_frac.alias("top_word_frac"),
        top_bigram_frac.alias("top_bigram_frac"),
        distinct_ratio.alias("distinct_ratio"),
        keep.alias("keep"),
    )


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    word ``n``-gram with the (small) eval/benchmark set.

    Scale posture: the eval side's distinct shingles are broadcast, so
    the corpus side is a single broadcast-semi pass over the exploded
    shingles — the only shuffle is the per-doc hit aggregation, and it
    carries hit rows only (tiny under a clean corpus). Never joins
    corpus-to-corpus.
    """
    from ..boundary import spread
    from .dedup import word_shingles

    def shingled(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col),
            F.explode(word_shingles(F.col(text_col), n)).alias("shingle"),
        )

    bench = shingled(eval_docs).select("shingle").distinct()
    return (
        shingled(spread(docs))
        .join(F.broadcast(bench), "shingle")
        .groupBy(id_col)
        .agg(F.count_distinct("shingle").alias("n_hit_shingles"))
    )


# Redaction patterns kept to RE2-safe syntax so the Spark (java.util
# .regex) and DuckDB (RE2) engines agree byte-for-byte.
EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]+"
PHONE_RE = "[0-9]{3}-[0-9]{3,}"


def redact_pii(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """PII scrub: replace email addresses and phone-shaped digit runs
    with fixed tags, reporting per-doc replacement counts. Pure
    regexp_replace / regexp_extract_all — per-row codegen, no shuffle."""
    text = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(text, F.lit(EMAIL_RE), 0))
    n_phones = F.size(
        F.regexp_extract_all(
            F.regexp_replace(text, EMAIL_RE, "<EMAIL>"), F.lit(PHONE_RE), 0
        )
    )
    clean = F.regexp_replace(
        F.regexp_replace(text, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return docs.select(
        F.col(id_col),
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        F.md5(clean).alias("clean_hash"),
    )


def collocation_pmi(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 10,
) -> DataFrame:
    """Corpus-wide collocations: pointwise mutual information of
    adjacent word pairs, PMI = ln( p(ab) / (p(a)·p(b)) ).

    Returns (w1, w2, pair_count, c1, c2, pmi rounded 4 dp) for pairs
    seen ≥ ``min_count`` times. Scale posture: one linear bigram
    explosion, one bigram-keyed hash agg, one word-keyed hash agg, and
    two joins against the unigram table — which is vocab-sized, so both
    are broadcasts. Corpus totals (words, bigrams) resolve to driver
    literals via two bounded count actions (the tfidf/lookback-anchor
    pattern), keeping the PMI expression constant-folded per row; the
    ln/division order is fixed so the double result is engine-portable.
    """
    words = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.lower(F.col(text_col)), " ")).alias("pos", "word"),
    ).filter(F.col("word") != "")
    bigrams = (
        docs.select(
            F.col(id_col), F.split(F.lower(F.col(text_col)), " ").alias("ws")
        )
        .select(
            F.posexplode(
                F.when(
                    F.size("ws") >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size("ws") - 1),
                        lambda i: F.struct(
                            F.element_at("ws", i).alias("w1"),
                            F.element_at("ws", i + 1).alias("w2"),
                        ),
                    ),
                ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
            ).alias("pos", "bg")
        )
        .select("bg.w1", "bg.w2")
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )
    uni = words.groupBy("word").agg(F.count("*").alias("c"))
    pair = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("pair_count"))
    n_words = words.count()
    n_bigrams = bigrams.count()
    out = (
        pair.filter(F.col("pair_count") >= min_count)
        .join(uni.select(F.col("word").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("word").alias("w2"), F.col("c").alias("c2")), "w2")
    )
    # Fixed evaluation order: (pair/M) / ((c1/N)*(c2/N)) — identical
    # IEEE sequence in the DuckDB oracle, so doubles match bit-for-bit.
    p_ab = F.col("pair_count") / F.lit(float(n_bigrams))
    p_a = F.col("c1") / F.lit(float(n_words))
    p_b = F.col("c2") / F.lit(float(n_words))
    return out.select(
        "w1",
        "w2",
        "pair_count",
        "c1",
        "c2",
        F.round(F.log(p_ab / (p_a * p_b)), 4).alias("pmi"),
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: tuple[str, ...],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 50,
) -> DataFrame:
    """Okapi BM25 retrieval: top-``k`` documents for a bag-of-words
    query, Lucene idf variant ``ln(1 + (N - df + 0.5)/(df + 0.5))``.

    Scale posture: per-document term frequencies for the (constant,
    small) query term set are folded per row with higher-order
    functions — no explode, no per-term shuffle. The corpus statistics
    (N, Σdl, per-term df) reduce to ONE bounded 1-row driver action
    that turns the idf and length-norm constants into literals (the
    same anchor-literal pattern as the lookback window and the tf-idf
    N), so the scoring pass itself is a single scan feeding a
    distributed top-k heap (TakeOrderedAndProject) — no join, no
    corpus-proportional shuffle anywhere. avgdl is derived as
    ``sum(dl)/N`` (exact integer sum, one deterministic division)
    rather than a float ``avg`` so the score is fold-order
    independent.
    """
    words = F.filter(
        F.split(F.lower(F.col(text_col)), " "), lambda w: w != ""
    )
    def _term_eq(term: str):
        # NB: must be a 1-arg lambda — pyspark binds a second lambda
        # arg to the array index, which would shadow a default arg.
        return lambda w: w == F.lit(term)

    tf_cols = [
        F.size(F.filter("words", _term_eq(t))).alias(f"tf_{i}")
        for i, t in enumerate(query_terms)
    ]
    per_doc = docs.select(F.col(id_col), words.alias("words")).select(
        id_col, F.size("words").alias("dl"), *tf_cols
    )
    srow = per_doc.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(query_terms))
        ],
    ).first()
    # The arithmetic below stays in JVM expression space (F.log over
    # literal longs, not python math.log) so the IEEE sequence is
    # identical to the previous in-plan form and to the oracle's.
    avgdl = F.lit(srow["sum_dl"]) / F.lit(srow["n_docs"])
    norm = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / avgdl)
    score = None
    for i in range(len(query_terms)):
        idf = F.log(
            F.lit(1.0)
            + (F.lit(srow["n_docs"]) - F.lit(srow[f"df_{i}"]) + F.lit(0.5))
            / (F.lit(srow[f"df_{i}"]) + F.lit(0.5))
        )
        part = idf * F.col(f"tf_{i}") * F.lit(k1 + 1.0) / (F.col(f"tf_{i}") + norm)
        score = part if score is None else score + part
    matched = sum(
        (F.col(f"tf_{i}") > 0).cast("int") for i in range(len(query_terms))
    )
    return (
        per_doc.filter(matched > 0)
        .select(
            id_col,
            F.col("dl").alias("doc_len"),
            matched.alias("terms_matched"),
            F.round(score, 6).alias("bm25"),
        )
        .orderBy(F.desc("bm25"), id_col)
        .limit(k)
    )
