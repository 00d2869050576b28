"""Entity resolution (record linkage) and exact substring-span dedup.

No direct reference counterpart — the reference resolves entities by
deterministic id equality (vertex ids are ARNs/uids, e.g.
`lambda/etl_aws/neptune_etl_aws.py:209-253` mergeV on fixed ids). A
training-data pipeline also needs *fuzzy* entity resolution (the same
real-world entity spelled differently across sources) and
sub-document exact dedup (repeated spans across documents, per
"Deduplicating Training Data Makes Language Models Better", Lee et
al. 2022 — the exact-substring variant). Both are re-expressed here
with the standard scale shapes:

- ER: **collapse → block → verify**. Exact-duplicate strings collapse
  to one representative first (the corpus-size→entity-size reduction),
  candidate pairs come only from shared blocking keys (never
  all-pairs), and only candidates pay the edit-distance verify.
  ``levenshtein`` is a JVM builtin, so the verify stays codegen.
- Span dedup: explode fixed-width token windows, one digest-keyed
  aggregation for corpus-wide occurrence counts, one join back to
  positions. Linear in corpus tokens — the distributed stand-in for a
  suffix array, which cannot be built across 1000 executors without
  this same shuffle anyway.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..boundary import map_rows


def collapse_exact(records: DataFrame, name_col: str, key_col: str) -> DataFrame:
    """Collapse byte-identical names to one row: (name, n_rec, min_key).

    At 100 TB the record table is huge but the *distinct-name* table is
    entity-sized; every downstream pairwise step runs on this collapsed
    side only. One digest-keyed shuffle."""
    return records.groupBy(F.col(name_col).alias("name")).agg(
        F.count("*").alias("n_rec"),
        F.min(key_col).alias("min_key"),
    )


def blocked_candidates(
    names: DataFrame, blocking: list[Column]
) -> DataFrame:
    """Candidate pairs (a_name < b_name) sharing ≥1 blocking key.

    ``blocking`` are expressions over the collapsed ``name`` column
    (e.g. first token, phonetic code, prefix). Multiple blocking passes
    union their keys — the standard recall fix for single-key blocking
    — and duplicate candidates from overlapping keys are dropped before
    the verify. The equi-join on the key is never all-pairs; block
    sizes bound the quadratic term, so pick keys with bounded
    selectivity (and cap or re-split pathological blocks upstream)."""
    keyed = names.select(
        "name",
        "n_rec",
        "min_key",
        F.explode(F.array_distinct(F.array(*blocking))).alias("blk"),
    ).filter(F.col("blk").isNotNull())
    a = keyed.select(
        F.col("blk"),
        F.col("name").alias("a_name"),
        F.col("n_rec").alias("a_rec"),
        F.col("min_key").alias("a_key"),
    )
    b = keyed.select(
        F.col("blk"),
        F.col("name").alias("b_name"),
        F.col("n_rec").alias("b_rec"),
        F.col("min_key").alias("b_key"),
    )
    return (
        a.join(b, "blk")
        .filter(F.col("a_name") < F.col("b_name"))
        .drop("blk")
        .dropDuplicates(["a_name", "b_name"])
    )


def er_matches(
    records: DataFrame,
    name_col: str,
    key_col: str,
    blocking: list[Column] | None = None,
    max_edit: int = 3,
) -> DataFrame:
    """End-to-end fuzzy entity resolution: collapse exact dups, block,
    verify by Levenshtein distance (JVM builtin — codegen, no Python).

    Returns (a_name, b_name, dist, a_rec, b_rec, a_key, b_key): the
    match graph over *distinct* names, each side carrying how many raw
    records it represents. Feed to ``operators.components`` for
    cluster resolution and ``cluster_survivors`` for canonicalization.
    Default blocking: first whitespace token."""
    names = collapse_exact(records, name_col, key_col)
    if blocking is None:
        blocking = [F.split(F.col("name"), " ")[0]]
    cands = blocked_candidates(names, blocking)
    return cands.withColumn(
        "dist", F.levenshtein("a_name", "b_name")
    ).filter(F.col("dist") <= max_edit)


def doc_spans(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 8
) -> DataFrame:
    """(id, pos, span_hash) — every n-word window of lower(text), NOT
    distinct (positions matter for span removal), 1-based positions.

    An Arrow row kernel (``boundary.map_rows``) for the same reason as
    ``dedup.doc_shingles``: Catalyst higher-order functions run
    interpreted per element and the hashing loop is the hot path. Only
    the 32-hex md5 digest of each span leaves Python — the shuffle that
    follows carries ~40 bytes/row regardless of span width. md5
    collisions (2^-128-scale) are the usual accepted risk of
    hash-keyed dedup at corpus scale."""

    def row(i, t):
        if t is None:
            return
        ws = t.lower().split(" ")
        for p in range(len(ws) - n + 1):
            yield i, p + 1, hashlib.md5(" ".join(ws[p : p + n]).encode()).hexdigest()

    return map_rows(
        docs.select(id_col, text_col), row, f"{id_col} long, pos int, span_hash string"
    )


def repeated_span_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    max_dup_frac: float = 0.3,
) -> DataFrame:
    """Per-doc exact repeated-span statistics (Lee et al. 2022,
    exact-substring dedup re-expressed relationally).

    A span is *duplicated* if its n-word window occurs ≥2 times in the
    corpus (any document, including its own). Output per doc with ≥1
    span: (id, n_spans, n_dup_spans, dup_frac, keep).

    Plan: one digest-keyed count aggregation over the exploded spans +
    one join of the counts back onto span positions + one id-keyed
    rollup — linear in corpus tokens, never pairwise in documents.
    The spans exchange is reused by Catalyst for both sides of the
    join when the input is cached; at 100 TB prefer writing the span
    table once and double-reading it."""
    spans = doc_spans(docs, id_col, text_col, n)
    counts = spans.groupBy("span_hash").agg(F.count("*").alias("occ"))
    marked = spans.join(counts, "span_hash")
    return (
        marked.groupBy(id_col)
        .agg(
            F.count("*").alias("n_spans"),
            F.sum((F.col("occ") >= 2).cast("long")).alias("n_dup_spans"),
        )
        .withColumn(
            "dup_frac",
            F.round(F.col("n_dup_spans") / F.col("n_spans"), 4),
        )
        .withColumn("keep", F.col("dup_frac") <= max_dup_frac)
    )
