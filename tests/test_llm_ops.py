"""Training-data-pipeline operator tests: dedup, similarity, text,
multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_neptune_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)
from etl_neptune_spark.operators.multimodal import decode_image_meta, with_payload
from etl_neptune_spark.operators.similarity import brute_force_topk, cosine_neardup_pairs
from etl_neptune_spark.sources import load_table


def test_exact_dedup_collapses_duplicates(spark):
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y z")], "doc_id long, text string"
    )
    out = {r.doc_id: r.dup_count for r in exact_dedup(docs).collect()}
    assert out == {1: 2, 3: 1}


def test_minhash_lsh_matches_exact_jaccard(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    lsh = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(docs).collect()}
    exact = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(docs).collect()}
    # LSH candidates must cover the true near-dup set at this similarity
    # level (recall 1.0 on the planted pairs), with no false accepts
    # after the verify step.
    assert lsh == exact
    assert len(exact) > 0


def test_ngram_jaccard_hot_shingle_prefix_filter_exact(spark):
    # Every doc shares one ubiquitous phrase — the hot posting list that
    # made the pre-prefix-filter plan quadratic. The prefix filter must
    # keep the output EXACTLY equal to brute-force jaccard over all
    # pairs: one planted near-dup pair in, all hot-shingle-only pairs
    # (low jaccard) out.
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (i, f"{base} unique tail number {i} code {i * 7} mark {i * 13}")
        for i in range(30)
    ]
    rows.append((100, f"{base} unique tail number 5 code 35 mark 66"))  # ~dup of 5
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def shingles(t, n=3):
        w = t.lower().split(" ")
        return {" ".join(w[j : j + n]) for j in range(len(w) - n + 1)}

    expected = set()
    for ia, ta in rows:
        for ib, tb in rows:
            if ia < ib:
                sa, sb = shingles(ta), shingles(tb)
                j = round(len(sa & sb) / len(sa | sb), 4)
                if j >= 0.5:
                    expected.add((ia, ib, j))

    got = {(r.id_a, r.id_b, r.jaccard) for r in ngram_jaccard_pairs(docs).collect()}
    assert got == expected
    assert (5, 100) in {(a, b) for a, b, _ in got}


def test_ngram_jaccard_df_cap_heavy_accounting(spark):
    # With df_cap BELOW the boilerplate frequency, the shared base
    # phrase becomes "heavy": its overlap contribution must still be
    # counted exactly (via the per-doc heavy sets) for any pair that
    # shares at least one sub-cap shingle, while pairs agreeing ONLY on
    # boilerplate are dropped (the documented approximation).
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (i, f"{base} unique tail number {i} code {i * 7} mark {i * 13}")
        for i in range(30)
    ]
    rows.append((100, f"{base} unique tail number 5 code 35 mark 66"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cap = 20

    def shingles(t, n=3):
        w = t.lower().split(" ")
        return {" ".join(w[j : j + n]) for j in range(len(w) - n + 1)}

    sets = {i: shingles(t) for i, t in rows}
    df_count: dict = {}
    for s in sets.values():
        for g in s:
            df_count[g] = df_count.get(g, 0) + 1

    expected = set()
    for ia in sets:
        for ib in sets:
            if ia < ib:
                shared = sets[ia] & sets[ib]
                if not any(df_count[g] <= cap for g in shared):
                    continue  # heavy-only overlap: dropped by design
                j = round(len(shared) / len(sets[ia] | sets[ib]), 4)
                if j >= 0.5:
                    expected.add((ia, ib, j))

    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in ngram_jaccard_pairs(docs, df_cap=cap).collect()
    }
    assert got == expected
    assert (5, 100) in {(a, b) for a, b, _ in got}  # exact incl. heavy part


def test_cosine_pairs_symmetric_bound(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    rows = cosine_neardup_pairs(emb, min_cosine=0.35).collect()
    assert all(-1.0001 <= r.cos <= 1.0001 for r in rows)
    assert all(r.id_a < r.id_b for r in rows)


def test_topk_rank_and_self_exclusion(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    out = brute_force_topk(emb.filter(F.col("vec_id") % 100 == 0), emb, k=3)
    rows = out.collect()
    by_query = {}
    for r in rows:
        assert r.query_id != r.neighbor_id
        by_query.setdefault(r.query_id, []).append(r)
    for q, nbrs in by_query.items():
        assert len(nbrs) == 3
        ranks = sorted(n.rank for n in nbrs)
        assert ranks == [1, 2, 3]
        ordered = sorted(nbrs, key=lambda n: n.rank)
        assert all(
            ordered[i].cos >= ordered[i + 1].cos for i in range(len(ordered) - 1)
        )


def test_lsh_buckets_balanced_on_sign_correlated_vectors(spark):
    # Real embedding corpora are heavily sign-correlated per dimension:
    # vectors with ALL-POSITIVE entries collapse an axis-aligned sign
    # sketch into one mega-bucket (one O(n^2) pandas group). Random
    # Rademacher hyperplanes mix every dim into every bit and must
    # spread such a corpus over many buckets.
    import numpy as np

    from etl_neptune_spark.operators.similarity import sign_bucket_expr

    rng = np.random.default_rng(0)
    rows = [
        (i, [float(x) for x in rng.uniform(0.1, 1.0, size=64)]) for i in range(256)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    sizes = (
        emb.select(F.expr(sign_bucket_expr("embedding", 6, 64)).alias("bucket"))
        .groupBy("bucket")
        .count()
        .collect()
    )
    n_buckets = len(sizes)
    biggest = max(r["count"] for r in sizes)
    assert n_buckets >= 8, f"collapsed into {n_buckets} buckets"
    assert biggest <= 0.5 * 256, f"mega-bucket of {biggest}/256"


def test_simhash_band_pairs_exact_vs_brute_force(spark, sf_dir):
    """Pigeonhole exactness: 4×4-bit banding must recover EVERY pair
    with hamming ≤ 2 (any pair differing in <4 bits shares a band) —
    compare against the all-pairs hamming computed from raw signatures."""
    from etl_neptune_spark.operators.dedup import (
        hamming16,
        simhash_band_pairs,
        simhash_signatures,
    )

    docs = load_table(spark, sf_dir, "documents")
    banded = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_band_pairs(docs, max_hamming=2).collect()
    }
    sh = simhash_signatures(docs)
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sig_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sig_b"))
    brute = {
        (r.id_a, r.id_b): r.hamming
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming16("sig_a", "sig_b"))
        .filter(F.col("hamming") <= 2)
        .collect()
    }
    assert banded == brute
    import pytest

    with pytest.raises(ValueError):
        simhash_band_pairs(docs, max_hamming=4, bands=4)  # not exact → refuse


def test_simhash64_band_pairs_exact_vs_brute_force(spark, sf_dir):
    """Pigeonhole exactness at 64-bit width: 4×16-bit banding must
    recover EVERY pair with hamming ≤ 3."""
    from etl_neptune_spark.operators.dedup import (
        hamming_bits,
        simhash64_band_pairs,
        simhash64_signatures,
    )

    docs = load_table(spark, sf_dir, "documents")
    banded = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash64_band_pairs(docs, max_hamming=3).collect()
    }
    sh = simhash64_signatures(docs)
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("simhash64").alias("sig_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("simhash64").alias("sig_b"))
    brute = {
        (r.id_a, r.id_b): r.hamming
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming_bits("sig_a", "sig_b", 64))
        .filter(F.col("hamming") <= 3)
        .collect()
    }
    assert banded == brute


def test_lsh_bucket_cap_enforced_on_skewed_corpus(spark):
    """VERDICT r2 #6: a groupBy().applyInPandas bucket must fit one
    worker's memory. A tightly-clustered corpus (one direction + noise)
    collapses a small hyperplane family into one mega-bucket; the
    refinement loop must re-band it under the configured row cap."""
    import numpy as np

    from etl_neptune_spark.operators.similarity import lsh_topk, refined_sign_buckets

    rng = np.random.default_rng(3)
    base = rng.uniform(0.5, 1.0, size=16)
    rows = [
        (i, [float(x) for x in base + rng.normal(0, 0.35, size=16)])
        for i in range(1200)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cap = 200
    bucketed = refined_sign_buckets(
        emb, bits=2, dim=16, max_bucket_rows=cap, split_bits=3
    )
    sizes = [r["count"] for r in bucketed.groupBy("bucket").count().collect()]
    assert max(sizes) <= cap, f"bucket of {max(sizes)} exceeds cap {cap}"
    assert sum(sizes) == 1200  # refinement never drops or duplicates rows

    # The scorer still produces ranked neighbors under the cap.
    out = lsh_topk(emb, k=3, bits=2, dim=16, max_bucket_rows=cap)
    assert out.count() > 0
    one = out.filter(F.col("rank") == 1).limit(5).collect()
    assert all(r.query_id != r.neighbor_id for r in one)


def test_multimodal_plumbing_schema_and_determinism(spark, sf_dir):
    docs = with_payload(load_table(spark, sf_dir, "documents"))
    meta = decode_image_meta(docs)
    assert meta.schema.simpleString() == (
        "struct<doc_id:bigint,n_bytes:bigint,width:int,height:int,"
        "channels:int,format:string>"
    )
    a = sorted(map(tuple, meta.collect()))
    b = sorted(map(tuple, decode_image_meta(docs).collect()))
    assert a == b
    for r in a[:20]:
        assert 1 <= r[2] <= 640 and 1 <= r[3] <= 480


def test_multimodal_features_and_resize(spark, sf_dir):
    """Feature-extract and resize plumbing: stable schemas, deterministic
    fakes, features consumable by the similarity operators."""
    from pyspark.sql import functions as F

    from etl_neptune_spark.operators.multimodal import (
        extract_features,
        resize_images,
        with_payload,
    )
    from etl_neptune_spark.operators.similarity import cosine_neardup_pairs
    from etl_neptune_spark.sources import load_table

    docs = with_payload(load_table(spark, sf_dir, "documents").limit(50))
    feats = extract_features(docs, dim=16)
    assert feats.schema.simpleString() == "struct<doc_id:bigint,features:array<float>>"
    rows = feats.collect()
    assert all(len(r.features) == 16 for r in rows)
    # deterministic: same input -> same vector
    again = {r.doc_id: r.features for r in extract_features(docs, dim=16).collect()}
    assert all(again[r.doc_id] == r.features for r in rows)
    # consumable by the similarity family (unit-norm histogram vectors)
    pairs = cosine_neardup_pairs(
        feats, id_col="doc_id", vec_col="features", min_cosine=0.99, n_blocks=2
    )
    assert pairs.count() >= 0  # runs end-to-end

    resized = resize_images(docs, width=64, height=64)
    r0 = resized.first()
    assert (r0.width, r0.height) == (64, 64)
    assert resized.filter(F.length("payload") > 64 * 64 // 64).count() == 0


def test_ivf_topk_recall_vs_exact(spark, sf_dir):
    """IVF with nprobe=4 of 8 cells must recover most of the exact
    top-5 neighbors (recall is the quantizer's quality metric)."""
    from etl_neptune_spark.operators.similarity import brute_force_topk, ivf_topk
    from etl_neptune_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, emb, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, k=5, n_clusters=8, nprobe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.7, recall
    # determinism: seeded training -> identical result set
    again = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, k=5, n_clusters=8, nprobe=4).collect()
    }
    assert again == approx


def test_ivfpq_topk_recall_vs_exact(spark, sf_dir):
    """IVF-PQ (nprobe=4 of 8 cells, 8-byte codes, refine=32) must
    recover most of the exact top-5 — the ADC scan may only lose
    candidates the exact re-rank cannot recover, so recall lower-bounds
    the code quality."""
    from etl_neptune_spark.operators.similarity import brute_force_topk, ivfpq_topk
    from etl_neptune_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, emb, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivfpq_topk(emb, k=5, n_clusters=8, nprobe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, recall
    # determinism: seeded training -> identical result set
    again = {
        (r.query_id, r.neighbor_id)
        for r in ivfpq_topk(emb, k=5, n_clusters=8, nprobe=4).collect()
    }
    assert again == approx


def test_heavy_hitters_eviction_guarantee(spark):
    """Misra-Gries with k counters far below the vocabulary must still
    surface every true heavy hitter (superset guarantee survives the
    decrement/eviction path), and the output counts are exact."""
    from collections import Counter

    from etl_neptune_spark.operators.sketches import heavy_hitters

    # Skewed corpus: two genuinely heavy words buried in a long tail of
    # 400 singletons, spread over 8 partitions so each partition runs
    # its own sketch with evictions (phi=0.1 -> k=10 counters << 402
    # distinct words).
    rows = []
    for i in range(400):
        rows.append((i, f"rare{i} hot cold" if i % 2 else f"rare{i} hot"))
    docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)

    truth = Counter()
    for _, t in rows:
        truth.update(t.split(" "))
    n_tokens = sum(truth.values())
    expect = {
        w: c for w, c in truth.items() if c > n_tokens * 0.1
    }

    got = {r["word"]: r["n"] for r in heavy_hitters(docs, phi=0.1).collect()}
    assert got == expect, (got, expect)
    assert "hot" in got and got["hot"] == 400


def test_jaccard_prefix_matches_cap_path(spark, sf_dir):
    """The prefix-filter path and the df-cap inverted-index path must
    produce the identical exact pair set on the fixture."""
    from etl_neptune_spark.operators.dedup import (
        jaccard_prefix_pairs,
        ngram_jaccard_pairs,
    )
    from etl_neptune_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = {
        (r.id_a, r.id_b, r.jaccard) for r in jaccard_prefix_pairs(docs).collect()
    }
    b = {
        (r.id_a, r.id_b, r.jaccard) for r in ngram_jaccard_pairs(docs).collect()
    }
    assert a == b and len(a) > 0


def test_group_heavy_hitters_eviction_guarantee(spark):
    """Grouped Misra-Gries: per-group pigeonhole must hold under
    eviction (k << per-group vocabulary), with exact output counts."""
    from collections import Counter

    from etl_neptune_spark.operators.sketches import group_heavy_hitters

    rows = []
    for i in range(300):
        g = "ga" if i % 2 else "gb"
        hot = "alpha" if g == "ga" else "beta"
        rows.append((i, g, f"rare{i} {hot}"))
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    ).repartition(8)

    truth: dict[str, Counter] = {}
    for _, g, t in rows:
        truth.setdefault(g, Counter()).update(t.split(" "))
    expect = {
        (g, w): c
        for g, cnt in truth.items()
        for w, c in cnt.items()
        if c > sum(cnt.values()) * 0.1
    }
    got = {
        (r["source"], r["word"]): r["n"]
        for r in group_heavy_hitters(docs, phi=0.1).collect()
    }
    assert got == expect, (got, expect)
    assert got[("ga", "alpha")] == 150 and got[("gb", "beta")] == 150


def test_ivf_cell_cap_enforced_on_skewed_corpus(spark):
    """ADVICE r3 #5: a quantizer-skewed corpus (one dense direction +
    noise) can overload a single IVF cell regardless of n_clusters; the
    sign-suffix splitting must keep every corpus cell under the cap,
    keep corpus and query probes co-bucketed, and never drop rows."""
    import numpy as np

    from etl_neptune_spark.operators.similarity import cap_ivf_cells, ivf_topk

    rng = np.random.default_rng(5)
    base = rng.uniform(0.5, 1.0, size=16)
    rows = [
        (i, [float(x) for x in base + rng.normal(0, 0.35, size=16)])
        for i in range(900)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    # Pin the invariant directly on the helper: every vector assigned
    # to ONE mega-cell (the worst quantizer skew possible), queries
    # probing the same cell.
    corpus = emb.select(
        F.col("vec_id").alias("vid"),
        F.col("embedding").alias("vec"),
        F.lit(0).alias("cell"),
    )
    queries = emb.select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
        F.lit(0).alias("cell"),
    )
    cap = 200
    c2, q2 = cap_ivf_cells(corpus, queries, cap, dim=16, seed=42)
    sizes = [r["count"] for r in c2.groupBy("cell").count().collect()]
    assert max(sizes) <= cap, f"cell of {max(sizes)} exceeds cap {cap}"
    assert sum(sizes) == 900  # splitting never drops or duplicates rows
    # co-bucketing: a query's refined cell must exist among corpus cells
    # (same suffix function of the same vector), so self-pairs survive
    ccells = {r["cell"] for r in c2.select("cell").distinct().collect()}
    qcells = {r["cell"] for r in q2.select("cell").distinct().collect()}
    assert qcells <= ccells

    # And the full operator still returns ranked neighbors under a cap.
    out = ivf_topk(emb, k=3, n_clusters=4, nprobe=2, cell_cap=cap)
    assert out.count() > 0
    one = out.filter(F.col("rank") == 1).limit(10).collect()
    assert all(r.query_id != r.neighbor_id for r in one)


def test_cap_ivf_cells_matches_r9_reference_loop(spark):
    """r10 rewrite pin: the shrinking-active-set cap loop (checkpoint
    only oversized rows, replay the query side from history) must
    produce the IDENTICAL (id → cell) mapping and the identical split
    history as the r9 reference algorithm (full-frame split every
    round). Multi-round skewed corpus: one mega-cell that needs ≥2
    sign-suffix rounds to fall under the cap."""
    import numpy as np

    from etl_neptune_spark.operators.similarity import (
        cap_ivf_cells,
        sign_bucket_expr,
    )

    rng = np.random.default_rng(11)
    base = rng.uniform(0.5, 1.0, size=16)
    rows = [
        (i, [float(x) for x in base + rng.normal(0, 0.3, size=16)])
        for i in range(1200)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    corpus = emb.select(
        F.col("vec_id").alias("vid"),
        F.col("embedding").alias("vec"),
        F.lit(0).alias("cell"),
    )
    queries = emb.select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
        F.lit(0).alias("cell"),
    )
    cap, dim, seed, split_bits = 60, 16, 42, 4

    def reference_loop(c, q):
        """The r9 cap_ivf_cells, verbatim semantics."""
        hist = []
        c = c.withColumn("cell", F.col("cell").cast("string"))
        q = q.withColumn("cell", F.col("cell").cast("string"))
        for round_no in range(8):
            over_cells = sorted(
                r["cell"]
                for r in c.groupBy("cell")
                .agg(F.count("*").alias("__n"))
                .filter(F.col("__n") > cap)
                .select("cell")
                .collect()
            )
            if not over_cells:
                break
            sfx_seed = seed + 101 * (round_no + 1)
            hist.append((sfx_seed, over_cells))
            ov = F.broadcast(
                spark.createDataFrame([(x,) for x in over_cells], "cell string")
                .withColumn("__over", F.lit(True))
            )

            def _split(df, vcol):
                return (
                    df.join(ov, "cell", "left")
                    .withColumn(
                        "cell",
                        F.when(
                            F.col("__over"),
                            F.concat(
                                F.col("cell"),
                                F.lit("|"),
                                F.expr(sign_bucket_expr(
                                    vcol, split_bits, dim, sfx_seed
                                )),
                            ),
                        ).otherwise(F.col("cell")),
                    )
                    .drop("__over")
                )

            c = _split(c, "vec").localCheckpoint(eager=False)
            q = _split(q, "qvec").localCheckpoint(eager=False)
        return c, q, hist

    ref_c, ref_q, ref_hist = reference_loop(corpus, queries)
    rec: list = []
    new_c, new_q = cap_ivf_cells(
        corpus, queries, cap, dim=dim, seed=seed, record=rec
    )
    assert rec == ref_hist, "split history diverged"
    assert len(rec) >= 2, "fixture must force a multi-round split"
    ref_map = {r["vid"]: r["cell"] for r in ref_c.collect()}
    new_map = {r["vid"]: r["cell"] for r in new_c.collect()}
    assert new_map == ref_map, "corpus cell keys diverged"
    ref_qmap = sorted((r["qid"], r["cell"]) for r in ref_q.collect())
    new_qmap = sorted((r["qid"], r["cell"]) for r in new_q.collect())
    assert new_qmap == ref_qmap, "query cell keys diverged"


def test_ivf_auto_clusters_scale_with_corpus(spark):
    """n_clusters=None derives ~sqrt(N) cells instead of a fixed 16."""
    import numpy as np

    from etl_neptune_spark.operators.similarity import ivf_topk

    rng = np.random.default_rng(9)
    rows = [
        (i, [float(x) for x in rng.normal(0, 1, size=8)]) for i in range(400)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # sqrt(400) = 20 cells; just assert the auto path runs and returns
    # ranked output (cluster count is internal).
    out = ivf_topk(emb, k=2, nprobe=2, train_sample=400)
    assert out.count() > 0


def test_minhash_signature_kernel_matches_naive_definition(spark):
    """The vectorized batch-digest kernel must reproduce the certified
    definition exactly: sig[j] = min over shingles of md5(f"{j}:{s}")
    as a hex string (what the DuckDB oracle computes)."""
    import hashlib

    from etl_neptune_spark.operators.dedup import (
        doc_shingles,
        minhash_signatures,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different text with unique words here"),
        (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: list(r.sig)
        for r in minhash_signatures(doc_shingles(docs), num_hashes=6).collect()
    }
    for doc_id, text in rows:
        w = text.lower().split(" ")
        sh = list(dict.fromkeys(" ".join(w[j : j + 3]) for j in range(len(w) - 2)))
        expect = [
            min(hashlib.md5(f"{j}:{s}".encode()).hexdigest() for s in sh)
            for j in range(6)
        ]
        assert got[doc_id] == expect, doc_id


@pytest.mark.parametrize(
    "cell_cap", [4096, 3], ids=["default_cap", "forced_split"]
)
def test_ivf_persisted_index_no_retrain_and_matches_fresh(
    spark, sf_dir, tmp_path, cell_cap
):
    """Persisted-IVF lifecycle (VERDICT r6 task 3): build once, then
    (a) the query path performs ZERO k-means training (KMEANS_CALLS
    pinned), (b) its answer equals a fresh ivf_topk build with the same
    parameters, and (c) appended vectors join the index via the frozen
    quantizer and become findable without a rebuild. The forced-split
    cap makes (b) and (c) run against a live split history replayed by
    the assign kernel."""
    from etl_neptune_spark.operators.similarity import (
        KMEANS_CALLS,
        ivf_append,
        ivf_build,
        ivf_query_persisted,
        ivf_topk,
    )
    from etl_neptune_spark.sources import load_table
    from etl_neptune_spark.streaming.store import GraphStore

    emb = load_table(spark, sf_dir, "embeddings")
    store = GraphStore(str(tmp_path / "annidx"))
    info = ivf_build(emb, store, n_clusters=8, version=0, cell_cap=cell_cap)
    assert info["n_clusters"] == 8
    if cell_cap < 4096:
        assert info["split_rounds"] >= 2

    before = KMEANS_CALLS["n"]
    got = {
        (r.query_id, r.neighbor_id, r.cos, r.rank)
        for r in ivf_query_persisted(emb, store, k=5, nprobe=4).collect()
    }
    assert KMEANS_CALLS["n"] == before, "query path must not retrain"

    fresh = {
        (r.query_id, r.neighbor_id, r.cos, r.rank)
        for r in ivf_topk(
            emb, k=5, n_clusters=8, nprobe=4, cell_cap=cell_cap
        ).collect()
    }
    assert got == fresh

    # append: clone 5 vectors under new ids; the clones are exact
    # duplicates, so each original must now see its clone at cos 1.0.
    from pyspark.sql import functions as F

    clones = (
        emb.orderBy("vec_id")
        .limit(5)
        .withColumn("vec_id", F.col("vec_id") + F.lit(10_000_000))
    )
    before = KMEANS_CALLS["n"]
    ivf_append(clones, store, version=1)
    assert KMEANS_CALLS["n"] == before, "append path must not retrain"
    after = ivf_query_persisted(emb, store, k=5, nprobe=4)
    clone_hits = {
        r.query_id
        for r in after.filter(
            F.col("neighbor_id") >= 10_000_000
        ).collect()
        if r.neighbor_id == r.query_id + 10_000_000
    }
    originals = {r.vec_id for r in clones.select(
        (F.col("vec_id") - 10_000_000).alias("vec_id")).collect()}
    assert originals <= clone_hits, (originals, clone_hits)


def test_jaccard_prefix_exact_boundary_threshold(spark):
    """Float-rounding regression (ADVICE r7): at min_jaccard=0.8 a pair
    with |A|=5, |B|=4 shingles and J exactly 0.8 sits ON every PPJoin
    bound — binary 0.8 rounds UP (5*0.8 -> 4.000000000000001), so
    un-epsiloned length/positional/prefix filters silently prune the
    true pair. Brute-force exact Jaccard is the in-test oracle."""
    from itertools import combinations

    from etl_neptune_spark.operators.dedup import (
        doc_shingles,
        jaccard_prefix_pairs,
    )

    # 7-word doc A -> 5 distinct trigram shingles; B = A's last 6 words
    # -> 4 shingles, all contained in A: J = 4 / (5 + 4 - 4) = 0.8
    # exactly. Filler docs keep the df-rank windows non-trivial.
    wa = "w1 w2 w3 w4 w5 w6 w7"
    wb = "w2 w3 w4 w5 w6 w7"
    rows = [(1, wa), (2, wb)] + [
        (10 + i, f"f{i}a f{i}b f{i}c f{i}d f{i}e") for i in range(6)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in jaccard_prefix_pairs(docs, min_jaccard=0.8).collect()
    }

    sh = {r.doc_id: set(r.shingles) for r in doc_shingles(docs).collect()}
    expect = set()
    for a, b in combinations(sorted(sh), 2):
        j = round(len(sh[a] & sh[b]) / len(sh[a] | sh[b]), 4)
        if j >= 0.8:
            expect.add((a, b, j))
    assert (1, 2, 0.8) in expect  # the fixture really is on the boundary
    assert got == expect, (got, expect)


def test_lsh_refinement_survives_constant_row_rounds(spark):
    """ADVICE r7: with split_bits=1 a round splits one oversized bucket
    into two roughly-equal children — both may still be oversized, so
    total oversized ROWS stays constant while the max bucket halves.
    The old rows-only no-progress break fired on exactly this shape and
    left buckets over the cap; progress must be judged on (rows, max)."""
    import numpy as np

    from etl_neptune_spark.operators.similarity import refined_sign_buckets

    rng = np.random.default_rng(11)
    # CENTERED vectors: every hyperplane cuts ~50/50, so each 1-bit
    # round halves the oversized buckets (max shrinks) while their row
    # total stays ~constant — the exact shape the rows-only break
    # misread as no-progress.
    rows = [
        (i, [float(x) for x in rng.uniform(-1.0, 1.0, size=16)])
        for i in range(1200)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cap = 150
    bucketed = refined_sign_buckets(
        emb, bits=1, dim=16, max_bucket_rows=cap, split_bits=1,
        max_split_rounds=12,
    )
    sizes = [r["count"] for r in bucketed.groupBy("bucket").count().collect()]
    assert max(sizes) <= cap, f"bucket of {max(sizes)} exceeds cap {cap}"
    assert sum(sizes) == 1200


@pytest.mark.parametrize(
    "corpus",
    ["skewed", "constant_row_rounds"],
)
def test_refined_sign_buckets_match_full_frame_reference_loop(spark, corpus):
    """Active-set rewrite pin for the LSH cap split: on the corpora of
    ``test_lsh_bucket_cap_enforced_on_skewed_corpus`` and
    ``test_lsh_refinement_survives_constant_row_rounds``,
    ``refined_sign_buckets`` must give every row the same bucket, in
    the same number of split rounds, as the full-frame reference loop
    below (the SQL sign bucket, a broadcast join and a full-frame
    checkpoint every round, and the (rows, max) no-progress break)."""
    import numpy as np

    from etl_neptune_spark.operators.similarity import (
        refined_sign_buckets,
        sign_bucket_expr,
    )

    if corpus == "skewed":
        rng = np.random.default_rng(3)
        base = rng.uniform(0.5, 1.0, size=16)
        vecs = [base + rng.normal(0, 0.35, size=16) for _ in range(1200)]
        bits, cap, split_bits, max_rounds = 2, 200, 3, 8
    else:
        rng = np.random.default_rng(11)
        vecs = [rng.uniform(-1.0, 1.0, size=16) for _ in range(1200)]
        bits, cap, split_bits, max_rounds = 1, 150, 1, 12
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    dim, seed = 16, 7

    def reference_loop():
        """The full-frame refined_sign_buckets loop, verbatim semantics."""
        b = emb.select(
            F.col("vec_id").alias("vid"),
            F.col("embedding").alias("vec"),
            F.expr(sign_bucket_expr("embedding", bits, dim, seed)).alias("bucket"),
        ).localCheckpoint(eager=False)
        prev, rounds = None, 0
        for round_no in range(max_rounds):
            over_stats = (
                b.groupBy("bucket")
                .agg(F.count("*").alias("__n"))
                .filter(F.col("__n") > cap)
            )
            tot = over_stats.agg(
                F.count("*").alias("b"),
                F.coalesce(F.sum("__n"), F.lit(0)).alias("r"),
                F.coalesce(F.max("__n"), F.lit(0)).alias("mx"),
            ).collect()[0]
            if tot["b"] == 0:
                break
            if prev is not None and tot["r"] >= prev[0] and tot["mx"] >= prev[1]:
                break
            prev = (tot["r"], tot["mx"])
            extra = F.expr(
                sign_bucket_expr("vec", split_bits, dim, seed + 37 * (round_no + 1))
            )
            b = (
                b.join(
                    F.broadcast(
                        over_stats.select("bucket").withColumn("__over", F.lit(True))
                    ),
                    "bucket",
                    "left",
                )
                .withColumn(
                    "bucket",
                    F.when(
                        F.col("__over"), F.concat(F.col("bucket"), F.lit("|"), extra)
                    ).otherwise(F.col("bucket")),
                )
                .drop("__over")
                .localCheckpoint(eager=False)
            )
            rounds += 1
        return {r["vid"]: r["bucket"] for r in b.collect()}, rounds

    ref_map, ref_rounds = reference_loop()
    got = refined_sign_buckets(
        emb,
        bits=bits,
        dim=dim,
        seed=seed,
        max_bucket_rows=cap,
        split_bits=split_bits,
        max_split_rounds=max_rounds,
    )
    got_map = {r["vid"]: r["bucket"] for r in got.collect()}
    assert got_map == ref_map, "bucket keys diverged"
    # Round r extends exactly the keys still oversized after round r-1,
    # so the deepest key carries one '|' per round the loop ran.
    assert max(b.count("|") for b in got_map.values()) == ref_rounds
    assert ref_rounds >= 2, "fixture must force a multi-round split"


def test_bloom_filter_distributed_build_fp_rate_and_exactness(spark):
    """Distributed bloom build (ADVICE r7): no driver collect of keys,
    deterministic under repartitioning, ZERO false negatives, and a
    pinned false-positive rate at 10× the old fixed-width design's
    saturation point — the width now scales with the build count, so
    FP stays ~1% where the fixed 2^17 array would have saturated."""
    from pyspark.sql import functions as F

    from etl_neptune_spark.operators.sketches import (
        bloom_bits_for,
        bloom_build,
        bloom_might_contain,
    )

    n = 40_000  # 10× the ~4k-key batch the old fixed width was tuned for
    members = spark.range(n).select(F.xxhash64("id").alias("k"))
    bits = bloom_bits_for(n)
    assert bits >= 10 * n  # sized from the count, not a fixed constant

    bm = bloom_build(members.repartition(16), "k", bits)
    assert bloom_build(members.repartition(3), "k", bits) == bm  # det.

    probe = bloom_might_contain(spark, bm)
    # Zero false negatives: every member passes.
    n_member_hits = members.filter(probe(F.col("k"))).count()
    assert n_member_hits == n

    # Pinned FP rate on disjoint keys: ~1% expected at 10 bits/key,
    # 7 hashes; 3% is a loose determinism-safe ceiling.
    non = spark.range(n, 2 * n).select(F.xxhash64("id").alias("k"))
    fp = non.filter(probe(F.col("k"))).count()
    assert fp / n <= 0.03, f"false-positive rate {fp / n:.4f}"


def test_ivf_persisted_query_prunes_code_partitions(spark, sf_dir, tmp_path):
    """VERDICT r7 task 7: the hive cell= layout is only worth its write
    cost if probe reads actually PRUNE — the plan for a query batch
    with nprobe < n_clusters must scan the codes snapshot with a
    non-empty PartitionFilters on cell (only the probed directories),
    and the pruning must be ANSWER-NEUTRAL vs an unpruned full read."""
    from etl_neptune_spark.operators.similarity import (
        ivf_build,
        ivf_query_persisted,
    )
    from etl_neptune_spark.sources import load_table
    from etl_neptune_spark.streaming.store import GraphStore

    emb = load_table(spark, sf_dir, "embeddings")
    store = GraphStore(str(tmp_path / "annidx"))
    ivf_build(emb, store, n_clusters=8, version=0)

    queries = emb.orderBy("vec_id").limit(20)
    out = ivf_query_persisted(queries, store, k=3, nprobe=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # The codes scan must carry partition filters on cell; the
    # centroid/meta scans have none, so locate the cell-partitioned one.
    pf_blocks = [
        seg.split("]", 1)[0]
        for seg in plan.split("PartitionFilters: [")[1:]
    ]
    assert any("cell" in b for b in pf_blocks), plan[:4000]

    # Pruning is answer-neutral vs a GENUINELY unpruned run: prune=False
    # scans the whole codes snapshot (no isin partition filter) and the
    # cell cogroup alone bounds candidates — same probes, same k, only
    # the scan differs (ADVICE r8: re-running the identical call only
    # proved determinism).
    got = {(r.query_id, r.neighbor_id, r.rank) for r in out.collect()}
    assert len(got) > 0
    full = ivf_query_persisted(queries, store, k=3, nprobe=1, prune=False)
    full_plan = full._jdf.queryExecution().executedPlan().toString()
    full_pf = [
        seg.split("]", 1)[0]
        for seg in full_plan.split("PartitionFilters: [")[1:]
    ]
    assert not any("cell" in b for b in full_pf)  # truly unpruned scan
    assert {(r.query_id, r.neighbor_id, r.rank) for r in full.collect()} == got


def test_minhash_hot_band_collapse_and_salt_answer_preserving(spark):
    """VERDICT r8 task 5: a boilerplate-heavy corpus (two big cliques of
    IDENTICAL docs plus near-identical variants) concentrates one band
    value per clique. The skew-hardened plan (identical-set collapse +
    salted band join) must return EXACTLY the pairs of the reference
    plan — plain band self-join + verify, no collapse, no salt — with
    within-clique pairs at jaccard 1.0, and be deterministic."""
    from etl_neptune_spark.operators.dedup import (
        doc_shingles,
        minhash_band_entries,
    )

    base_a = "the quick brown fox jumps over the lazy dog near the river bank"
    base_b = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    rows = []
    for i in range(40):
        rows.append((i, base_a))  # clique A: 40 identical docs
    for i in range(40, 70):
        rows.append((i, base_b))  # clique B: 30 identical docs
    # near-identical variants of A (one word swapped -> high jaccard)
    for j, w in enumerate(["swift", "rapid", "sly"]):
        rows.append((70 + j, base_a.replace("quick", w)))
    for i in range(80, 100):  # unrelated singletons
        rows.append((i, f"unique document number {i} about topic {i * 7} entirely"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(docs, min_jaccard=0.5).collect()
    }

    # Reference plan: the pre-r9 shape, semantics-defining.
    sh = doc_shingles(docs)
    be = minhash_band_entries(sh, "doc_id", 12, 6)
    cand = (
        be.select("band", "band_hash", F.col("doc_id").alias("id_a"))
        .join(
            be.select("band", "band_hash", F.col("doc_id").alias("id_b")),
            ["band", "band_hash"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    ref = {
        (r.id_a, r.id_b, r.jaccard)
        for r in cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b", "jaccard")
        .collect()
    }
    assert got == ref
    # clique structure sanity: all within-clique pairs present at 1.0
    assert sum(1 for x in got if x[2] == 1.0) >= (40 * 39 + 30 * 29) // 2
    # determinism across a second run
    again = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(docs, min_jaccard=0.5).collect()
    }
    assert again == got


def test_minhash_no_duplicate_sets_skips_collapse_same_answer(spark):
    """The adaptive collapse must be a no-op on a corpus with all-
    DISTINCT shingle sets (stats probe finds g == n): the direct path
    returns the verified rep pairs without expansion, and the answer
    still matches the reference band-join plan."""
    from etl_neptune_spark.operators.dedup import (
        doc_shingles,
        minhash_band_entries,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(1, base), (2, base + " lambda"), (3, base.replace("gamma", "mu"))]
    rows += [
        (10 + i, f"totally different text number {i} about subject {i * 3}")
        for i in range(8)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(docs, min_jaccard=0.4).collect()
    }

    sh = doc_shingles(docs)
    be = minhash_band_entries(sh, "doc_id", 12, 6)
    cand = (
        be.select("band", "band_hash", F.col("doc_id").alias("id_a"))
        .join(
            be.select("band", "band_hash", F.col("doc_id").alias("id_b")),
            ["band", "band_hash"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    ref = {
        (r.id_a, r.id_b, r.jaccard)
        for r in cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= 0.4)
        .select("id_a", "id_b", "jaccard")
        .collect()
    }
    assert got == ref
    assert len(got) >= 1  # the planted near-identical docs pair up


def test_minhash_salt_gate_follows_measured_band_skew(spark):
    """VERDICT r9 task 5: the 8-way salt replication must only run when
    the band-frequency probe actually measures a hot bucket. Uniform
    corpus -> eff_salt 1; hot-band corpus with all-DISTINCT shingle
    sets (so the collapse cannot defuse it) -> eff_salt 8, and the
    salted answer equals the unsalted reference plan."""
    from etl_neptune_spark.operators.dedup import (
        MINHASH_PROBE,
        doc_shingles,
        minhash_band_entries,
        minhash_lsh_pairs,
    )

    # Branch 1: uniform corpus, every band bucket holds one entry.
    rows = [
        (i, f"unique document number {i} about topic {i * 7} entirely")
        for i in range(30)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    minhash_lsh_pairs(docs, min_jaccard=0.5).collect()
    assert MINHASH_PROBE["eff_salt"] == 1
    assert MINHASH_PROBE["collapsed"] is False

    # Branch 2: 30 docs sharing a long base text, each distinct by one
    # trailing token — distinct shingle sets (no collapse) but nearly
    # identical signatures, so one (band, band_hash) bucket goes hot.
    # hot_band_min lowered to the fixture's scale: production's 1024
    # floor is the absolute AQE-style threshold, and a 30-entry bucket
    # must NOT salt under it (asserted after the main check).
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [(i, f"{base} tok{i}") for i in range(30)]
    rows += [(100 + i, f"other text {i} on subject {i * 3} entirely") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(docs, min_jaccard=0.5, hot_band_min=8).collect()
    }
    assert MINHASH_PROBE["collapsed"] is False
    assert MINHASH_PROBE["eff_salt"] == 8, MINHASH_PROBE

    sh = doc_shingles(docs)
    be = minhash_band_entries(sh, "doc_id", 12, 6)
    cand = (
        be.select("band", "band_hash", F.col("doc_id").alias("id_a"))
        .join(
            be.select("band", "band_hash", F.col("doc_id").alias("id_b")),
            ["band", "band_hash"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    ref = {
        (r.id_a, r.id_b, r.jaccard)
        for r in cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b", "jaccard")
        .collect()
    }
    assert got == ref
    assert len(got) >= (30 * 29) // 4  # the hot clique really pairs up


def test_minhash_salt_absolute_floor(spark):
    """A bucket that is relatively hot but absolutely tiny (30 entries,
    ~400 candidate pairs) must NOT trigger the 8-way replication under
    the production hot_band_min: the fan-out taxes every join row for
    protection sub-millisecond work does not need."""
    from etl_neptune_spark.operators.dedup import MINHASH_PROBE, minhash_lsh_pairs

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [(i, f"{base} tok{i}") for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    minhash_lsh_pairs(docs, min_jaccard=0.5).collect()
    assert MINHASH_PROBE["max_band"] >= 4 * max(MINHASH_PROBE["mean_band"], 1.0)
    assert MINHASH_PROBE["eff_salt"] == 1, MINHASH_PROBE


def test_replay_chunked_matches_unchunked(spark):
    """The split-history replay runs inside the Arrow kernels
    (``_split_keys``, a numpy fold of the SQL ``sign_bucket``
    expression). On a fabricated 5-round history, plus rows holding
    NaN, null elements, a null array, -0.0, ±inf and denormal-scale
    values, the kernel keys must equal the SQL join-chain replay bit
    for bit — through ``cap_ivf_cells``' re-keying pass and through the
    assign kernel that keys appends and probes."""
    import numpy as np

    from etl_neptune_spark.operators.similarity import (
        _assign_with_centroids,
        _resplit_cells,
        sign_bucket_expr,
    )

    rng = np.random.default_rng(7)
    rows = [
        (i, [float(x) for x in rng.normal(0, 1, size=16)]) for i in range(400)
    ]
    nan, inf = float("nan"), float("inf")
    edge = [
        [0.0] * 16,
        [-0.0] * 16,
        [nan] + [1.0] * 15,
        [inf] * 16,
        [-inf] * 16,
        [inf, -inf] + [0.0] * 14,
        [1e-30] * 16,
        [-1e-30] + [0.0] * 15,
        [1e8, 1.0, -1e8] + [0.0] * 13,
        [None] + [1.0] * 15,
        [1.0] * 15 + [None],
        None,
    ]
    rows += [(1000 + j, v) for j, v in enumerate(edge)]
    null_ids = [1009, 1010, 1011]
    df = spark.createDataFrame(rows, "qid long, qvec array<float>").withColumn(
        "cell", F.lit("0")
    )
    # 5 rounds, split_bits=1: round r splits every key reachable after
    # r-1 rounds (2^(r-1) strings), so most rows keep extending.
    split_bits, dim, seed = 1, 16, 42
    history = []
    reachable = ["0"]
    for r in range(5):
        history.append((seed + 101 * (r + 1), sorted(reachable)))
        reachable = [c + "|" + b for c in reachable for b in ("0", "1")]

    ref = df
    for sfx_seed, cells in history:
        ov = F.broadcast(
            spark.createDataFrame([(c,) for c in cells], "cell string")
            .withColumn("__over", F.lit(True))
        )
        ref = (
            ref.join(ov, "cell", "left")
            .withColumn(
                "cell",
                F.when(
                    F.col("__over"),
                    F.concat(
                        F.col("cell"),
                        F.lit("|"),
                        F.expr(sign_bucket_expr("qvec", split_bits, dim, sfx_seed)),
                    ),
                ).otherwise(F.col("cell")),
            )
            .drop("__over")
        )
    ref_map = {r["qid"]: r["cell"] for r in ref.collect()}
    out = _resplit_cells(df, "qvec", history, split_bits, dim)
    out_map = {r["qid"]: r["cell"] for r in out.collect()}
    assert out_map == ref_map
    # Null rows fold to all-'0' bits, so they still extend every round.
    assert all(ref_map[i] == "0" + "|0" * 5 for i in null_ids)
    # The assign kernel (one centroid: every row's base cell is "0")
    # replays the same history onto the cell and each probe column.
    assigned = _assign_with_centroids(
        df.filter(~F.col("qid").isin(null_ids)),
        np.ones((1, dim)),
        "qid",
        "qvec",
        2,
        history,
        split_bits,
    )
    for r in assigned.collect():
        assert r["cell"] == r["probe0"] == r["probe1"] == ref_map[r["vid"]]
    # Depth sanity: the fixture genuinely exercised multi-round suffixes.
    assert max(c.count("|") for c in ref_map.values()) >= 4


def test_curate_corpus_carry_rides_the_scan(spark):
    """r11 carry pin: curate_corpus(carry=...) must (a) leave the seven
    report columns bit-identical to the no-carry form and (b) append
    the carried expressions evaluated over the same rows — so a caller
    fusing a text-derived value into the curation scan changes the plan
    (one scan of the text payload instead of two) but never the data."""
    from etl_neptune_spark.operators.text import curate_corpus

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again"),
        (2, "the quick brown fox jumps over the lazy dog again"),
        (3, "zz"),
        (4, "the and is in it of to a was on for as with he she"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    base = curate_corpus(docs)
    carried = curate_corpus(
        docs, carry={"n_tokens": F.size(F.split(F.col("text"), " "))}
    )
    assert carried.columns == base.columns + ["n_tokens"]
    b = {r["doc_id"]: r.asDict() for r in base.collect()}
    c = {r["doc_id"]: r.asDict() for r in carried.collect()}
    want_tokens = {r[0]: len(r[1].split(" ")) for r in rows}
    for did, row in c.items():
        n = row.pop("n_tokens")
        assert n == want_tokens[did]
        assert row == b[did]
    # A carried name may not shadow the id or a report column.
    for bad in ("doc_id", "survivor_id", "kept"):
        with pytest.raises(ValueError, match="collide"):
            curate_corpus(docs, carry={bad: F.lit(1)})
