"""Mergeable frequency sketches for corpus-scale term statistics.

Two-phase heavy hitters: per-partition Misra-Gries summaries nominate
a candidate superset, then ONE exact counting pass restricted to the
candidates certifies the output — the standard way to find frequent
items over 100 TB without shuffling the full (term, count) space.

No reference counterpart (BASELINE.json north star).
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..boundary import map_batches, pylists


def _misra_gries_add(counters: dict[str, int], text: str, k: int) -> None:
    """Fold one text's words into a ``k``-counter Misra-Gries summary."""
    for w in text.lower().split(" "):
        if not w:
            continue
        if w in counters:
            counters[w] += 1
        elif len(counters) < k:
            counters[w] = 1
        else:
            # decrement-all step; drop zeroed counters
            dead = []
            for key in counters:
                counters[key] -= 1
                if counters[key] == 0:
                    dead.append(key)
            for key in dead:
                del counters[key]


def _misra_gries_partition(
    batches: Iterator[pa.RecordBatch], k: int
) -> Iterator[list]:
    """One Misra-Gries summary per Spark PARTITION (state carried
    across the partition's Arrow batches): at most ``k`` counters;
    every item with partition-local frequency > n_p/k survives."""
    counters: dict[str, int] = {}
    for batch in batches:
        for text in batch.column(0).to_pylist():
            if text is not None:
                _misra_gries_add(counters, text, k)
    yield [sorted(counters)]


def heavy_hitters(
    docs: DataFrame,
    text_col: str = "text",
    phi: float = 0.02,
) -> DataFrame:
    """Exact frequent terms: every word whose corpus-wide frequency
    exceeds ``phi`` of all tokens, with its exact count.

    Phase 1 (sketch): each partition runs Misra-Gries with
    ``k = ceil(1/phi)`` counters over its own tokens — O(k) memory,
    zero shuffle. Pigeonhole guarantees the union of per-partition
    survivors is a SUPERSET of the true heavy hitters: if a word
    stayed ≤ n_p/k in every partition its global count is ≤ N/k ≤ φN.
    Phase 2 (verify): one token pass counts ONLY the candidate terms
    (broadcast hash semi-join on the candidate set), so the keyed
    shuffle carries ≤ partitions·k distinct terms instead of the full
    vocabulary — at 100 TB that is the difference between shuffling a
    bounded candidate list and shuffling every distinct token. The
    total-token denominator N resolves to one bounded 1-row action
    (anchor-literal pattern) and the output is EXACT (sketch error
    never reaches the result — it only prunes the candidate space).
    """
    import math

    k = max(1, math.ceil(1.0 / phi))
    spark = docs.sparkSession
    candidates = map_batches(
        docs.select(text_col),
        lambda it: _misra_gries_partition(it, k),
        "word string",
    ).distinct()

    words = docs.select(
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("word")
    ).filter(F.col("word") != "")
    n_tokens = words.count()
    counted = (
        words.join(F.broadcast(candidates), "word", "left_semi")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    return (
        counted.filter(F.col("n") > F.lit(float(n_tokens)) * F.lit(phi))
        .select(
            "word",
            "n",
            F.round(F.col("n") / F.lit(float(n_tokens)), 6).alias("freq"),
        )
    )


def _group_mg_partition(
    batches: Iterator[pa.RecordBatch], k: int
) -> Iterator[list]:
    """Per-(partition, group) Misra-Gries summaries — one k-counter
    sketch per group value seen in the partition (the group domain is
    dimension-sized, so partition memory is O(groups · k))."""
    sketches: dict[str, dict[str, int]] = {}
    for batch in batches:
        for g, text in zip(*pylists(batch)):
            if text is not None and g is not None:
                _misra_gries_add(sketches.setdefault(g, {}), text, k)
    pairs = [(g, w) for g in sorted(sketches) for w in sorted(sketches[g])]
    yield [[g for g, _ in pairs], [w for _, w in pairs]]


def group_heavy_hitters(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    phi: float = 0.02,
) -> DataFrame:
    """Exact per-group frequent terms: every (group, word) whose
    frequency exceeds ``phi`` of the GROUP's tokens, with exact counts.

    Same two-phase shape as ``heavy_hitters``, pigeonholed per group:
    if a word stayed ≤ n_p(g)/k in every partition's group-g sketch,
    its group-global count is ≤ N_g/k ≤ φ·N_g — so the per-(partition,
    group) survivor union is a candidate superset per group. The exact
    pass counts only candidate (group, word) keys (broadcast semi-join)
    and the per-group token totals come from one dimension-sized
    aggregate joined back by broadcast — the keyed shuffle carries
    ≤ partitions·groups·k candidate keys, never groups × vocabulary.
    """
    import math

    k = max(1, math.ceil(1.0 / phi))
    candidates = map_batches(
        docs.select(group_col, text_col),
        lambda it: _group_mg_partition(it, k),
        f"{group_col} string, word string",
    ).distinct()
    words = docs.select(
        group_col,
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("word"),
    ).filter(F.col("word") != "")
    totals = words.groupBy(group_col).agg(F.count("*").alias("n_g"))
    counted = (
        words.join(F.broadcast(candidates), [group_col, "word"], "left_semi")
        .groupBy(group_col, "word")
        .agg(F.count("*").alias("n"))
    )
    return (
        counted.join(F.broadcast(totals), group_col)
        .filter(F.col("n") > F.col("n_g") * F.lit(phi))
        .select(
            group_col,
            "word",
            "n",
            F.round(F.col("n") / F.col("n_g"), 6).alias("freq"),
        )
    )


# --- Distributed bloom filter -------------------------------------------
#
# Build side of the explicit runtime-filter idiom (plans/llm.py
# q_bloom_prefilter). The filter is a plain packed bit array with
# double hashing h1 + i*h2 over a 64-bit key — bitwise-OR construction
# is order/partitioning-independent, so the result is deterministic
# however Spark schedules the build.

BLOOM_N_HASH = 7


def _bloom_positions(keys, m_bits: int, n_hash: int):
    """(n_hash, len(keys)) array of bit positions for signed-int64 keys."""
    import numpy as np

    kk = keys.astype(np.uint64)
    b1 = kk % np.uint64(m_bits)
    b2 = (kk >> np.uint64(17)) % np.uint64(m_bits - 1) + np.uint64(1)
    return np.stack(
        [(b1 + np.uint64(i) * b2) % np.uint64(m_bits) for i in range(n_hash)]
    )


def bloom_bits_for(n_keys: int, bits_per_key: int = 10, lo: int = 17, hi: int = 26) -> int:
    """Filter width sized from a (cheap) build-side count: the next
    power of two ≥ ``bits_per_key``·n (~1% false positives at 10 bits
    with 7 hashes), clamped to [2^lo, 2^hi]. A FIXED width is a silent
    cliff — at 100 TB an unbounded ingest increment saturates a 2^17
    array to ~100% false positives and degrades the prefilter to a
    no-op (ADVICE r7); sizing from the count keeps the FP rate flat.
    The hi cap (8 MB packed at 2^26) bounds executor broadcast memory;
    past it the FP rate degrades gracefully and the exact join that
    always follows a bloom prefilter keeps results identical."""
    want = max(1, n_keys) * bits_per_key
    return 1 << max(lo, min(hi, (want - 1).bit_length()))


def bloom_build(
    keys_df: DataFrame, key_col: str, m_bits: int, n_hash: int = BLOOM_N_HASH
) -> bytes:
    """Packed bloom bitmap over a signed-int64 key column, built
    DISTRIBUTIVELY: each partition ORs its keys into a local bitmap
    (one Arrow pass, np.bitwise_or.at), a single combine stage ORs the
    per-partition bitmaps down to a handful, and the driver only ever
    folds those few m/8-byte blobs — no collect() of the key set, so
    driver memory is O(m), never O(build rows) (ADVICE r7 replaced a
    driver-side ``collect()`` build with this)."""
    import numpy as np

    n_bytes = m_bits // 8

    def build(batches):
        bits = np.zeros(n_bytes, dtype=np.uint8)
        for batch in batches:
            if not batch.num_rows:
                continue
            pos = _bloom_positions(
                batch.column(0).to_numpy(zero_copy_only=False), m_bits, n_hash
            ).ravel()
            np.bitwise_or.at(
                bits,
                (pos >> np.uint64(3)).astype(np.int64),
                (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)),
            )
        yield [[bits.tobytes()]]

    def combine(batches):
        acc = np.zeros(n_bytes, dtype=np.uint8)
        for batch in batches:
            for b in batch.column(0).to_pylist():
                acc |= np.frombuffer(b, dtype=np.uint8)
        yield [[acc.tobytes()]]

    # Combine stage: caps what the driver folds at 8 blobs no matter
    # how wide the build scan was (1000 executor partitions × 8 MB
    # would otherwise land on the driver).
    bitmaps = map_batches(keys_df.select(key_col), build, "bm binary")
    parts = map_batches(
        bitmaps.repartition(8), combine, "bm binary"
    ).collect()  # bounded: <= 8 bitmap blobs (repartition(8) above)
    bits = np.zeros(n_bytes, dtype=np.uint8)
    for r in parts:
        bits |= np.frombuffer(r["bm"], dtype=np.uint8)
    return bits.tobytes()


def bloom_might_contain(spark, bitmap: bytes, n_hash: int = BLOOM_N_HASH):
    """Vectorized membership probe: an Arrow UDF over the broadcast
    packed bitmap, for use as ``df.filter(udf(F.xxhash64(...)))``."""
    import numpy as np

    m_bits = len(bitmap) * 8
    bc = spark.sparkContext.broadcast(
        np.frombuffer(bitmap, dtype=np.uint8)
    )

    @F.arrow_udf("boolean")
    def might_contain(k: pa.Array) -> pa.Array:
        pos = _bloom_positions(k.to_numpy(zero_copy_only=False), m_bits, n_hash)
        arr = bc.value
        ok = np.ones(pos.shape[1], dtype=bool)
        for i in range(n_hash):
            p = pos[i]
            ok &= (
                arr[(p >> np.uint64(3)).astype(np.int64)]
                >> (p & np.uint64(7)).astype(np.uint8)
            ) & np.uint8(1) == 1
        return pa.array(ok)

    return might_contain
