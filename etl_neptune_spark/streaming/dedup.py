"""Streaming near-duplicate detection — MinHash banding against a
persistent signature store.

The batch dedup operators (operators.dedup) find pairs WITHIN a corpus;
an ingest pipeline needs the other shape: does each ARRIVING document
near-duplicate anything seen before? This module runs that as a
Structured Streaming ``foreachBatch`` body over the versioned
GraphStore:

1. Each micro-batch computes MinHash band keys for its documents
   (operators.dedup.minhash_band_entries — the same Arrow kernel as the
   batch path, so batch and stream agree bit-for-bit).
2. Arriving band keys equi-join the STORE's band index: any (band,
   band_hash) collision marks the arriving doc as a near-dup CANDIDATE
   of the stored corpus (LSH semantics: collision probability follows
   the banding S-curve; exact verification can follow on the flagged
   subset only).
3. Non-duplicate (or all, by policy) documents' band keys merge into
   the store for the next batch — first-arrival-wins, idempotent under
   replay because the merge key is (doc, band) and the store publish is
   stage-then-rename. The merge is INCREMENTAL: only the batch's novel
   (doc, band) keys (anti-join against the store) land in an appended
   ``delta=<batch>`` partition, so each micro-batch writes O(batch)
   rows, never O(store); every ``compact_every`` batches the deltas
   fold into one snapshot to bound the file count.

At 100 TB the band index is the only state: ``bands × 1`` short rows
per document, hash-partitionable on (band, band_hash), pruned by the
store's versioning. No shuffle touches raw text after step 1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import doc_shingles, minhash_band_entries
from .pipeline import drain
from .store import GraphStore

BANDS_TABLE = "minhash_bands"


def batch_band_keys(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 6,
) -> DataFrame:
    """(doc_id, band, band_hash) for one batch of documents."""
    sh = doc_shingles(docs, id_col, text_col)
    return minhash_band_entries(sh, id_col, num_hashes, bands)


def flag_neardups_batch(
    store: GraphStore,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 6,
    admit_dups: bool = False,
    compact_every: int = 16,
    intra_batch: bool = False,
):
    """``foreachBatch`` body: flag arriving docs that LSH-collide with
    the stored corpus, then merge the admitted docs' band keys into the
    store. Returns the per-batch verdict frame via ``store`` table
    ``verdicts_v<batch>`` — (doc_id, is_neardup, n_collisions).

    ``admit_dups``: False (default) keeps the store canonical — only
    novel docs index; True indexes everything (audit mode).

    ``compact_every``: fold the band-index delta log into one snapshot
    every N batches (amortized O(store) housekeeping; the per-batch
    write itself is always O(batch)).

    ``intra_batch``: also flag docs that band-collide with a SMALLER-id
    doc of the SAME batch (keep-first) — without this, two near-dups
    co-arriving in one micro-batch are both admitted (neither is in the
    store yet). The self-join runs on the batch's own (small) band-key
    set, so the cost stays O(batch).
    """

    def apply(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        keys = batch_band_keys(batch, id_col, text_col, num_hashes, bands)

        # delta_before=batch_id: a crash-replay of this batch must not
        # see its own prior attempt's delta (verdicts and the novel-key
        # set would drift from the first run otherwise).
        existing = store.read(spark, BANDS_TABLE, delta_before=batch_id)
        if existing is None:
            existing = spark.createDataFrame([], keys.schema)

        collisions = (
            keys.join(
                existing.select(
                    F.col("band"),
                    F.col("band_hash"),
                    F.col(id_col).alias("__stored_id"),
                ),
                ["band", "band_hash"],
            )
            .filter(F.col(id_col) != F.col("__stored_id"))
            .groupBy(id_col)
            .agg(F.count_distinct("__stored_id").alias("n_collisions"))
        )
        intra_hits = None
        if intra_batch:
            intra_hits = (
                keys.select("band", "band_hash", F.col(id_col).alias("__later"))
                .join(
                    keys.select(
                        "band", "band_hash", F.col(id_col).alias("__earlier")
                    ),
                    ["band", "band_hash"],
                )
                .filter(F.col("__later") > F.col("__earlier"))
                .select(F.col("__later").alias(id_col))
                .distinct()
                .withColumn("__intra", F.lit(True))
            )
        verdicts = (
            batch.select(id_col)
            .distinct()
            .join(collisions, id_col, "left")
            .select(
                F.col(id_col),
                F.coalesce(F.col("n_collisions") > 0, F.lit(False)).alias(
                    "is_neardup"
                ),
                F.coalesce("n_collisions", F.lit(0)).alias("n_collisions"),
            )
        )
        if intra_hits is not None:
            verdicts = verdicts.join(intra_hits, id_col, "left").select(
                F.col(id_col),
                (F.col("is_neardup") | F.coalesce("__intra", F.lit(False))).alias(
                    "is_neardup"
                ),
                "n_collisions",
            )
        store.write(verdicts, f"verdicts_{batch_id}", batch_id)

        admitted = (
            keys
            if admit_dups
            else keys.join(
                verdicts.filter(~F.col("is_neardup")).select(id_col), id_col
            )
        )
        # Incremental merge on (doc, band): only keys NOT already in the
        # index land in this batch's delta — an O(batch) append, never a
        # rewrite of the store (VERDICT r2 #5). The anti-join scans the
        # index but shuffles only the (small) batch side; at scale the
        # delta log is hash-partitioned on (band, band_hash) and the
        # probe prunes to the batch's buckets.
        novel = admitted.join(
            existing.select(id_col, "band"), [id_col, "band"], "left_anti"
        )
        store.append_delta(novel, BANDS_TABLE, batch_id)
        if compact_every and (batch_id + 1) % compact_every == 0:
            store.compact(spark, BANDS_TABLE, batch_id)

    return apply


def run_neardup_stream(
    spark: SparkSession,
    docs_dir: str,
    store: GraphStore,
    schema: str = "doc_id long, text string",
) -> None:
    """Drain a file-arrival stream of documents through the near-dup
    flagger with availableNow (deterministic catch-up)."""
    drain(
        spark.readStream.schema(schema)
        .parquet(docs_dir)
        .writeStream.foreachBatch(flag_neardups_batch(store)),
        f"{store.root}/_checkpoints/neardup",
        "run_neardup_stream",
    )


MIN_QUALITY = 0.35


def ingest_corpus_batch(
    store: GraphStore,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = MIN_QUALITY,
    langs: tuple[str, ...] = ("en",),
    num_hashes: int = 12,
    bands: int = 6,
    compact_every: int = 16,
):
    """``foreachBatch`` body for a streaming corpus-ingest gate built
    from the SAME operators the batch pipeline uses:

    1. quality + language gate (operators.text ``quality_score`` /
       ``lang_id`` — the identical expressions, narrow and stateless);
    2. near-dup flag vs the persistent band index PLUS keep-first
       within the arriving batch (``flag_neardups_batch`` with
       ``intra_batch=True`` — co-arriving near-dups admit only the
       min id; byte-identical exact dups share every band, so exact
       dedup is subsumed), reusing the incremental O(batch) delta
       merge;
    3. admitted docs land in the ``corpus_manifest`` delta log with
       their token counts — the same (id, n_tokens) contract the batch
       packer (operators.packing.pack_sequences) consumes.

    Scope note vs ``pipelines.corpus.run_corpus_pipeline``: the batch
    pipeline additionally applies the Gopher repetition gate and eval
    decontamination, and resolves near-dup CLUSTERS (transitive) where
    this gate applies pairwise keep-first — callers wanting the full
    batch ruleset compose those operators into the stream the same way
    (repetition_features is narrow/stateless; decontaminate needs the
    broadcast eval shingle set). What IS shared — thresholds, hash
    family, banding, keep-first orientation — is shared by
    construction, imported from the same modules.

    Idempotent under crash-replay for the same reasons as
    ``flag_neardups_batch``: every read excludes the current batch's
    own deltas and every write is keyed by batch id.
    """
    from ..operators.text import lang_id, quality_score

    inner = flag_neardups_batch(
        store,
        id_col,
        text_col,
        num_hashes,
        bands,
        compact_every=compact_every,
        intra_batch=True,
    )

    def apply(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        gated = batch.filter(
            (quality_score(F.col(text_col)) >= min_quality)
            & lang_id(F.col(text_col)).isin(*langs)
        )
        inner(gated, batch_id)
        verdicts = store.read(spark, f"verdicts_{batch_id}")
        if verdicts is None:
            return
        admitted = gated.join(
            verdicts.filter(~F.col("is_neardup")).select(id_col), id_col
        )
        manifest = admitted.select(
            F.col(id_col),
            F.size(F.split(F.col(text_col), " ")).alias("n_tokens"),
            F.lit(batch_id).alias("ingest_batch"),
        )
        store.append_delta(manifest, "corpus_manifest", batch_id)

    return apply


def run_corpus_ingest_stream(
    spark: SparkSession,
    docs_dir: str,
    store: GraphStore,
    schema: str = "doc_id long, text string",
    **gate_kwargs,
) -> None:
    """Drain a file-arrival document stream through the full ingest
    gate (quality → language → near-dup → manifest) with availableNow."""
    drain(
        spark.readStream.schema(schema)
        .parquet(docs_dir)
        .writeStream.foreachBatch(ingest_corpus_batch(store, **gate_kwargs)),
        f"{store.root}/_checkpoints/corpus_ingest",
        "run_corpus_ingest_stream",
    )
