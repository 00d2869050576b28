"""Dataset-curation composition tests: leakage-safe split, SemDeDup
verdicts, classifier inference."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_neptune_spark.operators.dedup import ngram_jaccard_pairs
from etl_neptune_spark.operators.packing import assign_split, leakage_safe_split
from etl_neptune_spark.operators.similarity import (
    cosine_neardup_pairs,
    semantic_dedup,
)
from etl_neptune_spark.sources import load_table


def test_leakage_split_never_straddles_clusters(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pairs = ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"))
    out = leakage_safe_split(docs, pairs).cache()
    # the core guarantee: one split per near-dup group
    per_group = out.groupBy("group_id").agg(
        F.count_distinct("split").alias("n_splits")
    )
    assert per_group.filter(F.col("n_splits") > 1).count() == 0
    # at least one genuine multi-doc cluster exists in the fixture
    assert per_group.count() < out.count()
    # singletons (docs in no dup pair) get exactly the per-doc split
    pair_ids = pairs.select(F.col("id_a").alias("doc_id")).unionByName(
        pairs.select(F.col("id_b").alias("doc_id"))
    )
    singles = out.join(pair_ids, "doc_id", "left_anti")
    base = assign_split(docs).withColumnRenamed("split", "base_split")
    mismatch = singles.join(base, "doc_id").filter(
        F.col("split") != F.col("base_split")
    )
    assert mismatch.count() == 0
    out.unpersist()


def test_hard_negatives_never_return_same_label(spark, sf_dir):
    from etl_neptune_spark.operators.similarity import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    out = brute_force_topk(
        emb.filter(F.col("vec_id") % 50 == 0), emb, k=3, exclude_label_col="label"
    )
    labels = emb.select("vec_id", "label")
    joined = (
        out.join(labels.withColumnRenamed("vec_id", "query_id"), "query_id")
        .withColumnRenamed("label", "q_label")
        .join(labels.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
    )
    assert joined.filter(F.col("q_label") == F.col("label")).count() == 0
    assert out.count() > 0
    # ranks are 1..k per query
    per_q = out.groupBy("query_id").agg(
        F.min("rank").alias("lo"), F.max("rank").alias("hi"), F.count("*").alias("n")
    )
    bad = per_q.filter((F.col("lo") != 1) | (F.col("hi") != F.col("n"))).count()
    assert bad == 0


def test_lsh_hard_negatives_matches_bucketed_reference(spark, sf_dir):
    """The bucketed miner must EQUAL an independent numpy reference:
    per anchor, the top-3 cross-label neighbors by (cos desc, id asc)
    among rows sharing its sign-LSH bucket — same candidate rule, same
    masking, same tiebreak, computed without Spark."""
    import numpy as np
    import pandas as pd

    from etl_neptune_spark.operators.similarity import (
        lsh_hard_negatives,
        sign_bucket_expr,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    got = (
        lsh_hard_negatives(emb, anchor_pred=F.col("vec_id") % 50 == 0, k=3, bits=4)
        .toPandas()
        .astype({"query_id": "int64", "neighbor_id": "int64", "rank": "int64"})
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    base = emb.select(
        "vec_id",
        "label",
        "embedding",
        F.expr(sign_bucket_expr("embedding", 4, 64)).alias("bucket"),
    ).toPandas()
    rows = []
    for _, grp in base.groupby("bucket"):
        ids = grp["vec_id"].to_numpy()
        labels = grp["label"].to_numpy()
        m = np.vstack(grp["embedding"].to_numpy()).astype(np.float64)
        u = m / np.linalg.norm(m, axis=1, keepdims=True)
        c = np.round(u @ u.T, 4)
        for r in range(len(ids)):
            if ids[r] % 50 != 0:
                continue
            cand = np.where(labels != labels[r])[0]
            order = cand[np.lexsort((ids[cand], -c[r][cand]))][:3]
            rows.extend(
                (int(ids[r]), int(ids[j]), float(c[r, j]), rank)
                for rank, j in enumerate(order, start=1)
            )
    exp = (
        pd.DataFrame(rows, columns=["query_id", "neighbor_id", "cos", "rank"])
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    assert len(exp) > 0
    pd.testing.assert_frame_equal(got, exp)


def test_semantic_dedup_keep_first_within_cluster(spark):
    # two near-identical vectors in cluster 0 (keep the smaller id),
    # an identical vector in a DIFFERENT cluster (cross-cluster pairs
    # are never scored — it must survive), and an orthogonal vector.
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0], 0),
        (2, [0.999, 0.01, 0.0, 0.0], 0),
        (3, [1.0, 0.0, 0.0, 0.0], 1),
        (4, [0.0, 1.0, 0.0, 0.0], 0),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    out = {r.vec_id: r.keep for r in semantic_dedup(emb, min_cosine=0.9).collect()}
    assert out == {1: True, 2: False, 3: True, 4: True}


def test_semantic_dedup_matches_pairwise_definition(spark, sf_dir):
    # independent route to the same verdicts: corpus-wide exact pairs
    # filtered to same-label, drop = larger id of any qualifying pair
    emb = load_table(spark, sf_dir, "embeddings")
    verdicts = semantic_dedup(emb, min_cosine=0.4)
    labels = emb.select("vec_id", "label")
    pairs = cosine_neardup_pairs(emb, min_cosine=0.4)
    same_label = (
        pairs.join(labels.withColumnRenamed("vec_id", "id_a"), "id_a")
        .withColumnRenamed("label", "label_a")
        .join(labels.withColumnRenamed("vec_id", "id_b"), "id_b")
        .filter(F.col("label_a") == F.col("label"))
    )
    expect_dropped = {r.id_b for r in same_label.select("id_b").distinct().collect()}
    got_dropped = {r.vec_id for r in verdicts.filter(~F.col("keep")).collect()}
    assert got_dropped == expect_dropped
    assert len(expect_dropped) > 0


def test_decontaminate_flags_planted_overlap(spark, sf_dir):
    from etl_neptune_spark.plans.curation import q_decontaminate_long

    out = q_decontaminate_long(spark, sf_dir)
    rows = out.collect()
    # eval docs (doc_id % 50 == 0) are never in the output
    assert all(r["doc_id"] % 50 != 0 for r in rows)
    # contamination is the n_overlap > 0 predicate, exact integers
    assert all((r["n_overlap"] > 0) == r["contaminated"] for r in rows)
