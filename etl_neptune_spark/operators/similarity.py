"""Similarity search over embedding columns (array<float>).

No reference counterpart (BASELINE.json north star). Four operators:

- **cosine_neardup_pairs** — exact all-pairs cosine ≥ τ via a BLOCKED
  matrix product: rows are hashed into B blocks, every unordered block
  pair becomes one ``applyInArrow`` group, and each group scores its
  pair of sub-matrices with one numpy matmul. Replication factor is B
  per row (the classical blocked all-pairs layout); at 100 TB pick B
  so a block fits executor memory, and the shuffle stays linear in
  B × corpus instead of quadratic.
- **brute_force_topk** — exact top-k for a (small) query set: corpus
  blocks cogrouped with the broadcast-replicated query set, numpy
  scores per block, then a global ranking window over the B × k
  survivors per query (block-local top-k is a superset of the global
  top-k, so the result is exact).
- **lsh_topk** — ANN scale path #1: seeded random-hyperplane sign-LSH
  bucket as a hash-based coarse quantizer, numpy top-k inside each
  bucket.
- **ivf_topk** — ANN scale path #2: k-means coarse quantizer trained
  on a bounded driver-side sample (the FAISS recipe), distributed cell
  assignment, nprobe-cell exact re-ranking.

Each vector mechanism has one copy, shared by the operators here:
``_block_pairs`` (the blocked all-pairs layout and scorer),
``_topk_kernel`` (the in-group cosine top-k; IVF-PQ's ADC scan is a
different distance and keeps its own), ``with_sign_bucket`` (the
engine's sign keying pass) and ``_cap_split`` (the cap-split loop).

Why numpy and not SQL expressions: a 64-term unrolled dot product in a
join condition or filter lands in one generated-code method past
HotSpot's JIT size threshold — measured ~3 µs/pair, interpreted — and
higher-order functions (``aggregate``/``zip_with``) are interpreted by
construction. An Arrow-batched matmul does the same 2M-pair × 64-dim
workload in milliseconds and is how a production vector pipeline
shapes this job. SQL helpers (``dot``/``norm``/``cosine``) are kept
for expression-level uses.

Numerics: scores are computed in float64 and rounded half-even to 4 dp.
numpy's pairwise summation can differ from a sequential fold by ~1 ulp;
for a 4-dp rounded cosine the probability that this flips a rounded
value is ~1e-11 per pair — the DuckDB oracle agrees in practice.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..boundary import spread
from ..materialize import cut


def dot(a: Column | str, b: Column | str, dim: int | None = None) -> Column:
    """Σ aᵢ·bᵢ as a deterministic left fold in doubles.

    With ``dim`` (and operands given as column NAMES) the fold unrolls
    into one SQL string parsed JVM-side — a single py4j call, flat
    codegen, same left-associative order as the HOF fold. Keep results
    out of join conditions / filters: a >8 KB generated method won't
    JIT (see module docstring)."""
    if dim is not None and isinstance(a, str) and isinstance(b, str):
        return F.expr(
            " + ".join(
                f"(CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE))"
                for i in range(dim)
            )
        )
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column | str, dim: int | None = None) -> Column:
    return F.sqrt(dot(a, a, dim))


def cosine(a: Column | str, b: Column | str, dim: int | None = None) -> Column:
    return dot(a, b, dim) / (norm(a, dim) * norm(b, dim))


def _arrow_matrix(arr, dtype=np.float64) -> np.ndarray:
    """(n, dim) matrix from an Arrow ``list<float>`` column with NO
    per-row Python objects (VERDICT r9 task 1): the list values buffer
    is viewed zero-copy with ``to_numpy`` and reshaped; the only copy
    is one bulk cast to ``dtype``. The pandas route materializes one
    ndarray object per row before ``np.vstack`` copies each — that
    per-row conversion is what bound the ANN certificates' sf100 walls
    at scan parallelism (>40 min at 2M vectors, SCALING.md)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    if n == 0:
        return np.empty((0, 0), dtype=dtype)
    if arr.null_count:
        raise ValueError("_arrow_matrix: null embedding row")
    vals = arr.flatten().to_numpy(zero_copy_only=True)
    if pa.types.is_fixed_size_list(arr.type):
        dim = arr.type.list_size
    else:
        offs = arr.offsets.to_numpy(zero_copy_only=True)
        widths = offs[1:] - offs[:-1]
        dim = int(widths[0]) if len(widths) else 0
        if not (widths == dim).all():
            raise ValueError("_arrow_matrix: ragged embedding column")
    m = vals.reshape(n, dim)
    return m.astype(dtype) if m.dtype != dtype else m


def _unit(m: np.ndarray) -> np.ndarray:
    return m / np.linalg.norm(m, axis=1, keepdims=True)


def _key_py(v):
    """Grouping-key element from applyInArrow (a pyarrow scalar) →
    Python native."""
    return v.as_py() if hasattr(v, "as_py") else v


def _block_pairs(
    rows: DataFrame,
    n_blocks: int,
    min_cosine: float,
    emit,
    schema: str,
    by: tuple[str, ...] = (),
) -> DataFrame:
    """The one blocked all-pairs layout and scorer, shared by
    ``cosine_neardup_pairs`` and ``semantic_dedup``. ``rows`` carry
    (vid, vec) plus the ``by`` columns; each row is hashed into one of
    ``n_blocks`` blocks and replicated to the ``n_blocks`` unordered
    block pairs it takes part in, and one ``applyInArrow`` group per
    (``by``, block pair) scores its two sub-matrices with one numpy
    matmul: float64 cosines rounded half-even to 4 dp, unordered pairs,
    each raw slice normalized once. ``emit(lo, hi, cos)`` turns a
    group's pairs at cosine ≥ ``min_cosine`` (``lo < hi`` ids) into the
    caller's output table, typed by ``schema``."""
    keyed = (
        rows.withColumn("blk", F.pmod(F.hash(F.col("vid")), F.lit(n_blocks)))
        .withColumn("other", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))))
        .withColumn("g1", F.least("blk", "other"))
        .withColumn("g2", F.greatest("blk", "other"))
        # keep one copy per unordered block pair (blk==other appears once)
        .filter((F.col("blk") != F.col("other")) | (F.col("other") == F.col("g2")))
    )

    def score(key, t):
        g1, g2 = _key_py(key[-2]), _key_py(key[-1])
        ids = t.column("vid").to_numpy()
        m = _arrow_matrix(t.column("vec"))
        if g1 == g2:
            u = _unit(m)
            c = np.round(u @ u.T, 4)
            ii, jj = np.where(np.triu(c >= min_cosine, k=1))
            a_ids, b_ids = ids[ii], ids[jj]
        else:
            blk = t.column("blk").to_numpy()
            ma, mb = blk == g1, blk == g2
            if not ma.any() or not mb.any():
                none = np.empty(0, np.int64)
                return emit(none, none, np.empty(0))
            ia, ib = ids[ma], ids[mb]
            c = np.round(_unit(m[ma]) @ _unit(m[mb]).T, 4)
            ii, jj = np.where(c >= min_cosine)
            a_ids, b_ids = ia[ii], ib[jj]
        return emit(
            np.minimum(a_ids, b_ids).astype(np.int64),
            np.maximum(a_ids, b_ids).astype(np.int64),
            c[ii, jj],
        )

    return keyed.groupBy(*by, "g1", "g2").applyInArrow(score, schema=schema)


def cosine_neardup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.4,
    dim: int | None = None,
    n_blocks: int = 8,
) -> DataFrame:
    """All pairs with cosine ≥ threshold (id_a < id_b, rounded 4 dp).

    Exact. Blocked all-pairs (``_block_pairs``): each row is replicated
    to the ``n_blocks`` unordered block pairs it participates in; one
    numpy matmul scores each group. ``dim`` is unused here (numpy
    infers it) but kept for signature parity with the SQL helpers."""
    return _block_pairs(
        emb.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")),
        n_blocks,
        min_cosine,
        lambda lo, hi, cos: pa.table({"id_a": lo, "id_b": hi, "cos": cos}),
        "id_a long, id_b long, cos double",
    )


def semantic_dedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "label",
    min_cosine: float = 0.4,
    n_blocks: int = 4,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv
    2303.09540): pairwise cosine is scored ONLY within a coarse
    cluster, never across the corpus — here the cluster is the
    ``cluster_col`` column (in production, the IVF/k-means assignment
    from ``ivf_topk``'s trainer). Verdict is the deterministic
    keep-first rule: a vector is dropped iff some smaller-id vector in
    the same cluster has cosine ≥ ``min_cosine`` (after the same 4 dp
    round the other cosine operators certify at).

    Returns (id, cluster, keep) for every input row.

    Scale: cost is Σ_c |c|²/blocks — the cluster count grows with the
    corpus so |c| stays bounded; each (cluster, block-pair) group is one
    Arrow-batched numpy matmul (``_block_pairs``), and the verdict
    needs one distinct on the (small) dropped-id set plus one hash
    anti-join back. No corpus×corpus stage exists.
    """
    drops = _block_pairs(
        emb.select(
            F.col(cluster_col).alias("grp"),
            F.col(id_col).alias("vid"),
            F.col(vec_col).alias("vec"),
        ),
        n_blocks,
        min_cosine,
        # id_a < id_b and the LARGER id is the one dropped (keep-first).
        lambda lo, hi, cos: pa.table({"vid": hi}),
        "vid long",
        by=("grp",),
    ).dropDuplicates(["vid"])
    return (
        emb.select(id_col, cluster_col)
        .join(drops, emb[id_col] == drops["vid"], "left")
        .select(
            id_col,
            cluster_col,
            F.col("vid").isNull().alias("keep"),
        )
    )


_TOPK_SCHEMA = "query_id long, neighbor_id long, cos double"


def _topk_table(qs: list, ns: list, cs: list, rs: list | None = None):
    """A top-k kernel's output from per-query numpy slices (empty when
    no query kept a candidate); ``rs`` adds the ``rank`` column."""
    cols = {
        "query_id": np.concatenate(qs or [np.empty(0, np.int64)]),
        "neighbor_id": np.concatenate(ns or [np.empty(0, np.int64)]),
        "cos": np.concatenate(cs or [np.empty(0)]),
    }
    if rs is not None:
        cols["rank"] = np.concatenate(rs or [np.empty(0, np.int32)])
    return pa.table(cols)


def _topk_kernel(
    k: int,
    query: tuple[str, str] = ("vid", "vec"),
    label: bool = False,
    ranked: bool = False,
):
    """The one exact in-group cosine top-k: an ``applyInArrow`` cogroup
    kernel ``(key, queries, candidates)`` shared by ``brute_force_topk``,
    ``lsh_hard_negatives``, ``lsh_topk`` (its bucket is both sides),
    ``ivf_topk`` and ``ivf_query_persisted``. ``query`` names the query
    side's id and vector columns; candidates are (vid, vec).

    One numpy matmul scores the group's queries against its candidates
    (float64, rounded half-even to 4 dp). Identical ids are masked (the
    self-query convention); with ``label``, so is every pair whose
    ``lbl`` is equal or NULL on EITHER side — SQL's three-valued
    ``q.label != c.label``, not numpy equality (which only excludes
    both-NULL pairs). Each query keeps its top-k by (cos desc,
    neighbor_id asc) on the rounded score. Where a group is one block
    or probed cell of the candidates, that is a superset of the global
    top-k and ``_cogroup_topk``'s window makes it exact; ``ranked``
    emits the 1-based position as ``rank`` instead, for a group that
    holds each query's whole candidate set.

    Vectors of both sides ingest zero-copy (``_arrow_matrix``) and the
    output assembles from concatenated numpy slices, with no per-row
    Python objects."""
    qid, qvec = query

    def score(key, qt, ct):
        if qt.num_rows == 0 or ct.num_rows == 0:
            return _topk_table([], [], [], [] if ranked else None)
        qi, ci = qt.column(qid).to_numpy(), ct.column("vid").to_numpy()
        qu = _unit(_arrow_matrix(qt.column(qvec)))
        # A bucket passed as both sides (lsh_topk) normalizes once, and
        # numpy takes its symmetric-product path for u @ u.T.
        cu =qu if ct is qt else _unit(_arrow_matrix(ct.column("vec")))
        c = np.round(qu @ cu.T, 4)
        c[qi[:, None] == ci[None, :]] = -np.inf  # exclude self
        if label:
            qlc, clc = qt.column("lbl"), ct.column("lbl")
            ql = qlc.to_numpy(zero_copy_only=False)
            cl = clc.to_numpy(zero_copy_only=False)
            c[ql[:, None] == cl[None, :]] = -np.inf  # exclude same class
            qn = qlc.is_null().to_numpy(zero_copy_only=False)
            cn = clc.is_null().to_numpy(zero_copy_only=False)
            c[qn[:, None] | cn[None, :]] = -np.inf
        kk = min(k, c.shape[1])
        out_q, out_n, out_c, out_r = [], [], [], []
        for r in range(c.shape[0]):
            order = np.lexsort((ci, -c[r]))[:kk]
            sel = order[np.isfinite(c[r, order])]
            if len(sel):
                out_q.append(np.full(len(sel), qi[r], dtype=np.int64))
                out_n.append(ci[sel].astype(np.int64))
                out_c.append(c[r, sel])
                out_r.append(np.arange(1, len(sel) + 1, dtype=np.int32))
        return _topk_table(out_q, out_n, out_c, out_r if ranked else None)

    return score


def _cogroup_topk(
    queries: DataFrame,
    corpus: DataFrame,
    by: list[str],
    k: int,
    scorer,
    dedup: bool = False,
) -> DataFrame:
    """Cogroup queries with corpus on ``by``, score each group with
    ``scorer`` (a kernel emitting (query_id, neighbor_id, cos)), and
    rank the survivors globally by (cos desc, neighbor_id asc). The
    group-local top-k of every block or probed cell is a superset of
    the global top-k over them, so the window pass is exact. ``dedup``
    drops repeated (query, neighbor) pairs first, for query sides that
    can reach one candidate through two groups (IVF probes)."""
    from pyspark.sql import Window

    candidates = (
        queries.groupBy(*by)
        .cogroup(corpus.groupBy(*by))
        .applyInArrow(scorer, schema=_TOPK_SCHEMA)
    )
    if dedup:
        candidates = candidates.dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        candidates.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int | None = None,
    n_blocks: int = 8,
    exclude_label_col: str | None = None,
) -> DataFrame:
    """Exact cosine top-k neighbors per query vector (self excluded).

    The query set is replicated to every corpus block (it is small —
    that IS the brute-force contract), each cogroup scores one corpus
    block against all queries in one matmul and keeps its local top-k,
    and a global ranking window over the ≤ B·k survivors per query
    yields the exact answer.

    With ``exclude_label_col``, candidates sharing the query's label
    are masked out before ranking — HARD-NEGATIVE MINING for
    contrastive training (per anchor, the most similar vectors of a
    DIFFERENT class); the masking happens inside the same matmul
    kernel, so the cost is unchanged."""
    nb = n_blocks
    lbl = [F.col(exclude_label_col).alias("lbl")] if exclude_label_col else []
    c_blocks = corpus.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        F.pmod(F.hash(F.col(id_col)), F.lit(nb)).alias("blk"),
        *lbl,
    )
    q_rep = queries.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"), *lbl
    ).withColumn("blk", F.explode(F.sequence(F.lit(0), F.lit(nb - 1))))
    return _cogroup_topk(
        q_rep,
        c_blocks,
        ["blk"],
        k,
        _topk_kernel(k, label=exclude_label_col is not None),
    )


def rademacher_signs(bits: int, dim: int, seed: int = 7) -> np.ndarray:
    """Seeded ±1 hyperplane matrix (bits × dim). Rademacher entries are
    a valid random-hyperplane family for cosine LSH (sign of a random
    ±combination of ALL dimensions) and — unlike Gaussian floats — cross
    engines as exact literals, so the DuckDB oracle reproduces buckets
    bit-for-bit."""
    rng = np.random.default_rng(seed)
    return rng.choice((1.0, -1.0), size=(bits, dim))


def sign_bucket_expr(
    vec_name: str, bits: int, dim: int, seed: int = 7, one_based: bool = False
) -> str:
    """SQL string for the random-hyperplane sign bucket of an
    array column — the oracle's form of the engine's ``_sign_bits``.

    Each bit is ``sign(Σ_i ±vec[i])`` with seeded Rademacher signs —
    every dimension participates in every bit, so per-dimension sign
    correlation in real embedding corpora (which collapses an
    axis-aligned sketch into one mega-bucket → one quadratic group)
    spreads across 2^bits buckets. The emitted arithmetic is the same
    left-fold of doubles in Spark (0-based arrays) and DuckDB
    (``one_based=True``) as ``_sign_bits`` runs in numpy, so buckets
    match bit-identically across engines. Only registered oracle SQL
    and tests evaluate it; every engine bucket goes through
    ``with_sign_bucket``."""
    signs = rademacher_signs(bits, dim, seed)
    base = 1 if one_based else 0
    parts = []
    for b in range(bits):
        terms = "0.0" + "".join(
            f" {'+' if s > 0 else '-'} CAST({vec_name}[{i + base}] AS DOUBLE)"
            for i, s in enumerate(signs[b])
        )
        parts.append(f"CASE WHEN ({terms}) >= 0 THEN '1' ELSE '0' END")
    return "concat(" + ", ".join(parts) + ")"


def _sign_bits(vec, signs: np.ndarray):
    """``sign_bucket_expr`` evaluated on an Arrow ``list<float>`` column,
    bit for bit: each bit is a float64 left fold from 0.0 over the
    dimensions in order, one ``+``/``-`` per term (a matmul or pairwise
    sum would reorder the additions and change low bits). The SQL
    CASE's edge cases carry over: a NaN sum reads '1' (Spark orders NaN
    above every number), and a null row or a row holding a null element
    reads '0' (its comparison is null)."""
    acc = np.zeros((len(vec), len(signs)))
    null = np.zeros(len(vec), dtype=bool)
    for i in range(signs.shape[1]):
        x = pc.list_element(vec, i)
        null |= x.is_null().to_numpy(zero_copy_only=False)
        x = x.to_numpy(zero_copy_only=False).astype(np.float64)
        acc = acc + x[:, None] * signs[:, i]
    on = ((acc >= 0) | np.isnan(acc)) & ~null[:, None]
    return pc.binary_join_element_wise(
        *[pa.array(np.where(bit, "1", "0")) for bit in on.T], ""
    )


def _spread_large(df: DataFrame) -> DataFrame:
    """The input gate of the Arrow keying passes (the IVF assign kernel
    and ``with_sign_bucket``): ``spread`` the input, unless its size
    estimate is under 16 MiB. On an under-filed input the keying pass
    and everything downstream of it would otherwise serialize through
    one task. Below the gate the repartition is pure fixed cost, since
    the kernel finishes faster than the shuffle's round-trip (measured
    r11 — a repartition(32) of ~2k vectors costs ~0.3 s per call, while
    the kernel itself is <50 ms at that size). 16 MiB of scan bytes is
    several hundred thousand vectors, the size where the r10 A/B first
    showed the per-row win."""
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 — estimate unavailable: keep the insurance
        est = None
    if est is None or est >= 16 * 1024 * 1024:
        df = spread(df)
    return df


def with_sign_bucket(
    df: DataFrame, vec_col: str, bits: int, dim: int, seed: int = 7
) -> DataFrame:
    """``df`` plus a string column ``bucket``: the random-hyperplane sign
    bucket of ``vec_col`` under the seeded ``bits`` × ``dim`` Rademacher
    family (``_sign_bits``, bit-identical to ``sign_bucket_expr``). One
    Arrow pass behind the ``_spread_large`` gate, every other column
    passed through. Every engine bucket starts here, and split suffixes
    come from the same fold (``_split_keys``). Project ``df`` to the
    columns the caller needs first: all of them cross."""
    signs = rademacher_signs(bits, dim, seed)
    names = [*df.columns, "bucket"]
    vi = df.columns.index(vec_col)

    def key(batches):
        for batch in batches:
            yield pa.RecordBatch.from_arrays(
                [*batch.columns, _sign_bits(batch.column(vi), signs)], names=names
            )

    schema = StructType([*df.schema.fields, StructField("bucket", StringType(), False)])
    return _spread_large(df).mapInArrow(key, schema)


# Widest sign family the adaptive sizing may pick. The seeded Rademacher
# stream fills row-major, so the b-bit family is the PREFIX of the
# 16-bit one — an engine computing only b hyperplanes and an oracle
# substring-ing the 16-bit string produce the identical bucket.
SIGN_BITS_MAX = 16


def adaptive_sign_bits(
    n_rows: int, target_bucket: int, lo: int = 1, hi: int = SIGN_BITS_MAX
) -> int:
    """Corpus-adaptive sign-LSH width: enough hyperplanes that the
    AVERAGE bucket holds ~``target_bucket`` rows. Bucket count doubles
    per bit, so within-bucket pair mass stays bounded as the corpus
    grows — a FIXED width is quadratic in disguise (the sf100 probe
    measured 76× on a 10× step for the 6-bit SemDeDup twin). The SQL
    twin ``adaptive_sign_bits_sql`` emits the same formula over
    ``count(*)``, so both engines derive the same width from the same
    table."""
    if n_rows <= 0:
        return lo
    return max(
        lo, min(hi, math.ceil(math.log2(max(1.0, n_rows / target_bucket))))
    )


def adaptive_sign_bits_sql(
    count_expr: str, target_bucket: int, lo: int = 1, hi: int = SIGN_BITS_MAX
) -> str:
    """DuckDB expression mirroring ``adaptive_sign_bits`` — pair with
    ``substring(<16-bit sign string>, 1, <this>)`` to reproduce the
    engine's adaptively-sized bucket in a static oracle query."""
    return (
        f"greatest({lo}, least({hi}, CAST(ceil(log2(greatest(1.0, "
        f"{count_expr} / {target_bucket}.0))) AS INT)))"
    )


def refined_sign_buckets(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 12,
    dim: int = 64,
    seed: int = 7,
    max_bucket_rows: int | None = 4096,
    split_bits: int = 4,
    max_split_rounds: int = 8,
) -> DataFrame:
    """``(vid, vec, bucket)`` with every bucket capped at
    ``max_bucket_rows``: buckets that exceed the cap are re-banded with
    ``split_bits`` extra hyperplanes (a fresh seed per round) until they
    fit or ``max_split_rounds`` is hit.

    This is what makes ``lsh_topk`` safe beyond test scale: a
    ``groupBy().applyInArrow`` group must fit one worker's memory, and
    a fixed ``bits`` family cannot guarantee that as the corpus grows
    (VERDICT r2 #6 — 4096 buckets over 100 TB is millions of rows per
    group). The initial bucket is one ``with_sign_bucket`` pass; the
    refinement is ``_cap_split``, the active-set loop ``cap_ivf_cells``
    runs on IVF cells (round r's seed is ``seed + 37·(r+1)``), so each
    round re-keys and checkpoints only the rows of oversized buckets.
    Exact-duplicate vectors can never be separated by hyperplanes;
    ``max_split_rounds`` bounds the loop and leaves such residual
    buckets to the scorer (documented approximation floor)."""
    bucketed = with_sign_bucket(
        emb.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")),
        "vec",
        bits,
        dim,
        seed,
    )
    if max_bucket_rows is None:
        return bucketed
    bucketed, _ = _cap_split(
        bucketed,
        "bucket",
        max_bucket_rows,
        dim,
        seed,
        37,
        split_bits,
        max_split_rounds,
    )
    return bucketed


def lsh_topk(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    bits: int = 12,
    dim: int = 64,
    seed: int = 7,
    max_bucket_rows: int | None = 4096,
) -> DataFrame:
    """Approximate top-k: candidates share the sign-LSH bucket (IVF-style
    coarse quantizer — widen ``bits`` as the corpus grows), scored by
    one numpy matmul per bucket. No crossJoin, no quadratic shuffle;
    random (not axis-aligned) hyperplanes keep bucket sizes balanced on
    sign-correlated corpora, and ``refined_sign_buckets`` re-bands any
    bucket over ``max_bucket_rows`` so no kernel group can exceed the
    cap (modulo exact-duplicate vectors). The bucket is each query's
    whole candidate set, so the kernel's own positions are the ranks
    and the one exchange is the bucket grouping."""
    bucketed = refined_sign_buckets(
        emb, id_col, vec_col, bits, dim, seed, max_bucket_rows
    )
    score = _topk_kernel(k, ranked=True)
    return bucketed.groupBy("bucket").applyInArrow(
        lambda key, t: score(key, t, t), schema=f"{_TOPK_SCHEMA}, rank int"
    )


def lsh_hard_negatives(
    emb: DataFrame,
    anchor_pred: Column,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 3,
    bits: int = 4,
    dim: int = 64,
    seed: int = 7,
    n_blocks: int = 4,
) -> DataFrame:
    """Bucketed hard-negative mining — the SCALE path of
    ``brute_force_topk(exclude_label_col=...)``: per anchor (rows
    matching ``anchor_pred``), the top-k most-similar vectors of a
    DIFFERENT label among candidates sharing the anchor's seeded
    sign-LSH bucket. Candidate mass is Σ_b anchors_b × |b| instead of
    anchors × corpus — widen ``bits`` with the corpus (the coarse-
    quantizer sizing) and the per-bucket work stays bounded; the
    Rademacher bucket is oracle-expressible (``sign_bucket_expr``), so
    unlike a k-means assignment the whole approximate answer is
    strict-certifiable.

    Within a bucket the candidates are hashed into ``n_blocks`` blocks
    and anchors replicated per block (the ``brute_force_topk`` layout),
    so one Arrow group holds a bucket-block, not a whole bucket; the
    masked matmul kernel and the exact ranking window over the ≤
    blocks·k block-local survivors are shared with the exact miner —
    swapping exact↔bucketed changes ONLY the candidate generator."""
    b = with_sign_bucket(
        emb.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).alias("vec"),
            F.col(label_col).alias("lbl"),
            anchor_pred.alias("is_anchor"),
        ),
        "vec",
        bits,
        dim,
        seed,
    )
    cand = b.withColumn("blk", F.pmod(F.hash("vid"), F.lit(n_blocks)))
    anch = b.filter("is_anchor").withColumn(
        "blk", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1)))
    )
    return _cogroup_topk(
        anch, cand, ["bucket", "blk"], k, _topk_kernel(k, label=True)
    )


# Invocation counter so tests can PROVE the persisted-index query path
# never retrains (VERDICT r6 task 3: "second plan must contain no
# k-means stage").
KMEANS_CALLS = {"n": 0}


def _kmeans(sample: np.ndarray, k: int, iters: int = 10, seed: int = 42) -> np.ndarray:
    """Tiny seeded k-means on a driver-side sample — coarse-quantizer
    training is a bounded-sample step even at 100 TB (the FAISS recipe:
    train on ~10⁵ vectors, assign the corpus distributedly)."""
    KMEANS_CALLS["n"] += 1
    rng = np.random.default_rng(seed)
    u = _unit(sample)
    cents = u[rng.choice(len(u), size=k, replace=False)]
    for _ in range(iters):
        assign = np.argmax(u @ cents.T, axis=1)
        for c in range(k):
            members = u[assign == c]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n:
                    cents[c] = m / n
    return cents


def _split_rounds(history, split_bits: int, dim: int) -> list:
    """A recorded split history ``[(sfx_seed, [oversized cells])]`` in
    the form ``_split_keys`` consumes: per round, the oversized cells as
    an Arrow value set and that round's seeded hyperplanes."""
    return [
        (pa.array(cells, pa.string()), rademacher_signs(split_bits, dim, sfx_seed))
        for sfx_seed, cells in history
    ]


def _split_keys(keys: list, vec, rounds: list) -> list:
    """Replay a cap-split history on Arrow string keys — the one place
    a split key (an IVF sub-cell or a refined LSH bucket) is computed.
    In round order, every key in that round's oversized list gains
    ``|<bits>``, the sign bits of its row's vector under the round's
    hyperplanes (``_sign_bits``), so a corpus row, an appended vector
    and a probe of the same vector all land in the same sub-cell.
    ``keys`` are key columns over the rows of ``vec`` (a cell and its
    probe columns); ``rounds`` comes from ``_split_rounds``."""
    for cells, signs in rounds:
        hits = [pc.is_in(key, value_set=cells) for key in keys]
        if not any(pc.any(hit).as_py() for hit in hits):
            continue
        sfx = _sign_bits(vec, signs)
        keys = [
            pc.if_else(hit, pc.binary_join_element_wise(key, sfx, "|"), key)
            for key, hit in zip(keys, hits)
        ]
    return keys


def _resplit_cells(
    df: DataFrame,
    vcol: str,
    history: list,
    split_bits: int,
    dim: int,
    key: str = "cell",
) -> DataFrame:
    """Apply a split history to the string ``key`` column of a frame
    that is already keyed (``_cap_split``'s rounds and
    ``cap_ivf_cells``' query side): the assign kernel's ``_split_keys``
    step as one Arrow pass, every other column passed through."""
    rounds = _split_rounds(history, split_bits, dim)
    names = df.columns
    ci, vi = names.index(key), names.index(vcol)

    def resplit(batches):
        for batch in batches:
            cols = batch.columns
            (cols[ci],) = _split_keys([cols[ci]], cols[vi], rounds)
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return df.mapInArrow(resplit, df.schema)


def _cap_split(
    frame: DataFrame,
    key: str,
    cap: int,
    dim: int,
    seed: int,
    seed_step: int,
    split_bits: int,
    max_rounds: int,
) -> tuple[DataFrame, list]:
    """The one cap-split loop, for IVF cells (``cap_ivf_cells``) and
    LSH buckets (``refined_sign_buckets``): re-key ``frame``'s string
    ``key`` column (its vectors are ``vec``) until no key holds more
    than ``cap`` rows. Round r appends ``|<split_bits sign bits>`` under
    the seed ``seed + seed_step·(r+1)`` to every oversized key. Returns
    the capped frame and the split history ``[(sfx_seed, [oversized
    keys])]``.

    Stop rule: the loop ends when no key is over the cap, or after
    ``max_rounds`` rounds. Rows no hyperplane separates (exact or near
    duplicates) keep their oversized key; each extra round spends only
    an aggregate and a re-key over those rows.

    Loop shape (r10, guide §8 "move heavy bytes once"): only rows whose
    CURRENT key is oversized can change key in a round, so the loop
    carries just that shrinking "active" set — under-cap rows freeze
    into lazily-filtered "done" views of the previous round's blocks.
    Re-checkpointing the FULL frame every round (the r9 form)
    materialized the vector payload rounds× over into deserialized
    block storage — at 2M×64f that cache churn, not the split math,
    was the sf100 wall (driver thread dumps: 29/32 executor threads in
    MemoryStore.putIteratorAsValues). Oversized detection over the
    active set is equivalent to detection over the full frame: a key's
    whole population moves between active/done together (keys extend
    only currently-oversized keys), so a frozen key can never grow.

    Determinism assumption (ADVICE r10): round-0 frozen rows keep their
    lineage rooted at the UNCACHED input frame, so a caller that runs
    several actions re-executes that upstream scan and keying pass for
    them — correctness then rests on the upstream lineage being
    deterministic across re-evaluations. That holds for every in-repo
    caller (the keying kernels are seeded, parquet scans are stable,
    and both ``ivf_build`` and ``ivf_topk`` checkpoint the assignment
    before calling in), and callers composing new pipelines must either
    keep that property or checkpoint their frame first."""
    history: list[tuple[int, list[str]]] = []
    done: list[DataFrame] = []
    active = frame
    for round_no in range(max_rounds):
        over = sorted(
            r[key]
            for r in active.groupBy(key)
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") > cap)
            .select(key)
            .collect()  # bounded: oversized keys <= rows / cap
        )
        if not over:
            break
        history.append((seed + seed_step * (round_no + 1), over))
        hit = F.coalesce(F.col(key).isin(over), F.lit(False))
        # Under-cap rows freeze: a lazy view over the PREVIOUS round's
        # checkpoint blocks (no new materialization, no re-keying).
        done.append(active.filter(~hit))
        # Only the oversized remainder is re-keyed, under a cut (its
        # serialized storage level is the fix for the MemoryStore
        # churn measured above).
        active = cut(
            _resplit_cells(
                active.filter(hit), "vec", history[-1:], split_bits, dim, key
            )
        )
    for d in done:
        active = active.unionByName(d)
    return active, history


def cap_ivf_cells(
    corpus: DataFrame,
    queries: DataFrame,
    cell_cap: int,
    dim: int,
    seed: int = 42,
    split_bits: int = 4,
    max_rounds: int = 8,
    record: list | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Quantizer-skew guard for the IVF layout: no cogroup cell may
    exceed ``cell_cap`` corpus rows. Oversized cells get a seeded
    sign-hyperplane suffix computed from the VECTOR itself (corpus rows
    from ``vec``, probe rows from ``qvec``), so both roles land in the
    same sub-cell without any coordination. The corpus runs
    ``_cap_split``, the loop ``refined_sign_buckets`` runs on LSH
    buckets (round r's seed is ``seed + 101·(r+1)``); each round costs
    one cell-size aggregate plus one Arrow re-keying pass over the rows
    of the oversized cells. The query side leaves the loop entirely:
    its final keys are one Arrow pass that replays the recorded
    history, so it pays zero checkpoints.

    ``corpus`` must have (vid, vec, cell); ``queries`` (qid, qvec, cell).
    Returns both with string-typed, capped cell keys.

    ``record`` (optional): a list that receives one ``(sfx_seed,
    [oversized cells])`` entry per split round — the split HISTORY a
    persisted index needs so later probes/appends can replay the exact
    same sub-cell keys (``ivf_build``/``ivf_query_persisted``). The
    oversized-cell list is tiny by construction (cells already over the
    cap), so the extra collect is a bounded driver action."""
    corpus, history = _cap_split(
        corpus.withColumn("cell", F.col("cell").cast("string")),
        "cell",
        cell_cap,
        dim,
        seed,
        101,
        split_bits,
        max_rounds,
    )
    if record is not None:
        record.extend(history)
    queries = queries.withColumn("cell", F.col("cell").cast("string"))
    if history:
        queries = _resplit_cells(queries, "qvec", history, split_bits, dim)
    return corpus, queries


def _train_sample(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_clusters: int | None,
    train_sample: int,
    seed: int,
    n: int | None = None,
) -> tuple[np.ndarray, int]:
    """Bounded coarse-quantizer training input shared by ``ivf_topk``,
    ``ivf_build`` and ``ivfpq_topk``: ``(sample matrix, n_clusters)``.

    ``n_clusters=None`` derives the cell count from the corpus: ~√N
    clamped to [4, train_sample // 8], the FAISS sizing rule (``n`` is
    the corpus count when the caller already has it). The sample orders
    by a seeded hash of the id and takes the first ``train_sample`` — a
    deterministic uniform draw across the whole corpus, planned as
    TakeOrderedAndProject (per-partition top-N heaps, no full sort).
    limit() alone would take the head of the first parquet file — a
    biased k-means sample on clustered or partitioned data."""
    if n_clusters is None:
        if n is None:
            n = emb.count()  # one bounded action, metadata-cheap on parquet
        n_clusters = int(min(max(4, round(math.sqrt(n))), max(4, train_sample // 8)))
    sample = (
        emb.select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias(vec_col),
            F.hash(F.col(id_col), F.lit(seed)).alias("__r"),
        )
        .orderBy("__r", "__id")
        .limit(train_sample)
        .select(vec_col)
        .toArrow()  # bounded: <= train_sample rows by the limit above
    )
    m = _arrow_matrix(sample.column(0))
    if not len(m):
        raise ValueError("IVF training: empty corpus")
    return m, n_clusters


def _probe_rows(assigned: DataFrame, nprobe: int) -> DataFrame:
    """The query role of an assigned frame: one (qid, qvec, cell) row
    per probed cell."""
    return assigned.select(
        F.col("vid").alias("qid"),
        F.col("vec").alias("qvec"),
        F.explode(F.array(*[f"probe{p}" for p in range(nprobe)])).alias("cell"),
    )


def _capped_roles(
    assigned: DataFrame,
    corpus_cols: list[str],
    nprobe: int,
    cell_cap: int | None,
    dim: int,
    seed: int,
) -> tuple[DataFrame, DataFrame]:
    """Corpus and probe roles of a freshly assigned self-query frame,
    with cells capped by ``cap_ivf_cells`` unless ``cell_cap`` is None
    (the shared tail of ``ivf_topk`` and ``ivfpq_topk``)."""
    if cell_cap is not None:
        # The cap-split rounds re-read the assignment. The cut must
        # wrap `assigned` BEFORE corpus/queries derive from it — r9
        # found the original rebound the name after the derivation, so
        # every cap-split round silently re-ran the assign kernel.
        assigned = cut(assigned)
    corpus = assigned.select(*corpus_cols)
    queries = _probe_rows(assigned, nprobe)
    if cell_cap is None:
        return corpus, queries
    return cap_ivf_cells(corpus, queries, cell_cap, dim=dim, seed=seed)


def ivf_topk(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_clusters: int | None = None,
    nprobe: int = 2,
    train_sample: int = 4096,
    seed: int = 42,
    cell_cap: int | None = 4096,
) -> DataFrame:
    """IVF-style approximate top-k: k-means coarse quantizer trained on
    a bounded sample, corpus assigned to its nearest centroid
    distributedly, each query probes its ``nprobe`` nearest cells, and
    the exact cosine ranking runs only inside the probed cells — the
    classical inverted-file ANN layout. Larger ``nprobe`` trades
    latency for recall.

    Scale parameters:

    - ``n_clusters=None`` (default) derives the cell count from the
      corpus: ~√N clamped to [4, train_sample // 8] — the FAISS sizing
      rule. A FIXED cell count is a scale bug: at 1B+ vectors a
      16-cell quantizer makes every cogroup cell ~N/16 rows and the
      scorer OOMs one worker per cell.
    - ``cell_cap`` bounds the rows any single cogroup task can see even
      under quantizer skew (a dense corpus region can overload one
      centroid regardless of cell count): oversized cells are
      sub-split with seeded sign-hyperplane suffixes — applied to the
      VECTOR, so a query probe and a corpus row land in the same
      sub-cell deterministically — until every cell fits or the split
      rounds cap out (exact-duplicate vectors set the floor). Same
      recipe as ``refined_sign_buckets``.

    Self-query form (every vector is a query), matching ``lsh_topk``.
    No SQL oracle exists for k-means state, so this operator is
    certified rows-only plus a recall-vs-brute-force test."""
    sample, n_clusters = _train_sample(
        emb, id_col, vec_col, n_clusters, train_sample, seed
    )
    cents = _kmeans(sample, n_clusters, seed=seed)
    assigned = _assign_with_centroids(emb, cents, id_col, vec_col, nprobe)
    corpus, queries = _capped_roles(
        assigned, ["vid", "vec", "cell"], nprobe, cell_cap, sample.shape[1], seed
    )
    return _cogroup_topk(
        queries, corpus, ["cell"], k, _topk_kernel(k, ("qid", "qvec")), dedup=True
    )


# --------------------------------------------------------------------------
# Persisted IVF index (VERDICT r6 task 3)
#
# ``ivf_topk`` retrains its coarse quantizer on every invocation — fine
# for a one-shot certificate, a scale-killer for a real corpus queried
# repeatedly. The persisted form separates the index LIFECYCLE the way
# FAISS does (train once → add → search many):
#
# - ``ivf_build``  — train the quantizer on a bounded sample, assign
#   the corpus distributedly, cap-split skewed cells, and persist
#   centroids + capped cell codes + the split HISTORY as parquet
#   snapshots in a GraphStore (same versioned layout as the graph
#   tables: time travel, O(batch) deltas, bounded compaction).
# - ``ivf_append`` — assign NEW vectors with the FROZEN quantizer
#   (no retraining — the FAISS ``add`` posture) and land them as an
#   O(batch) delta. Appended mass can re-skew a cell past the cap;
#   that is the documented rebuild trigger, exactly as a FAISS index
#   degrades until retrained.
# - ``ivf_query_persisted`` — answer top-k from the persisted index
#   with NO k-means stage anywhere: centroids are a tiny parquet read
#   broadcast to the assign kernel, which replays the split history
#   to the exact sub-cell keys in the same Arrow pass, and the cogroup
#   scorer reads the codes snapshot. Mirrors the reference's
#   cache-reuse posture (OPTIMIZATION-CHANGELOG.md:100-113: reuse
#   expensive state across runs instead of recomputing it).
#
# At 100 TB the build is one linear assign pass + bounded driver
# actions; every query afterwards touches nprobe cells of the parquet
# codes table (partition-prunable on `cell` if written partitioned).
# --------------------------------------------------------------------------

IVF_TABLES = ("centroids", "codes", "meta", "splits")


def _assign_with_centroids(
    emb: DataFrame,
    cents: np.ndarray,
    id_col: str,
    vec_col: str,
    nprobe: int,
    history: list | tuple = (),
    split_bits: int = 4,
    extra: tuple | None = None,
) -> DataFrame:
    """The IVF assign kernel: one Arrow pass that keys vectors into
    cells against a FROZEN quantizer, no training. ``cell`` is the
    nearest centroid and ``probe0..probe{nprobe-1}`` the ``nprobe``
    nearest, each extended by the recorded split ``history``
    (``_split_keys``), so every key it emits is final. Emits (vid, vec,
    [extra], cell, probe0..) with string keys.

    ``extra``: an optional ``(name, spark_type, fn)``; ``fn`` maps the
    batch's unit vectors to one more Arrow column computed in the same
    pass (IVF-PQ's codes).

    mapInArrow, not mapInPandas (r10, VERDICT r9 task 1): the vector
    column enters as a zero-copy buffer view (``_arrow_matrix``) and
    leaves by PASSING THE ORIGINAL ARROW COLUMN THROUGH — the pandas
    route paid one ndarray object per row inbound and a per-row
    list re-serialization outbound, which is what bound the 2M-vector
    certificates at scan parallelism. Only (id, vec) cross the
    boundary (guide §4: project before an opaque kernel). The input
    passes the ``_spread_large`` gate (r10/r11): on an under-filed
    input the whole assign → cap-split → checkpoint lineage would
    otherwise serialize through one task, and the ANN lifecycle certs
    call this kernel many times per run at sizes where the spread is
    pure fixed cost."""
    bc = emb.sparkSession.sparkContext.broadcast(cents)
    rounds = _split_rounds(history, split_bits, cents.shape[1])
    key_names = ["cell", *(f"probe{p}" for p in range(nprobe))]
    extra_names = [extra[0]] if extra else []
    names = ["vid", "vec", *extra_names, *key_names]

    def assign(batches):
        for batch in batches:
            vec = batch.column(1)
            u = _unit(_arrow_matrix(vec))
            order = np.argsort(-(u @ bc.value.T), axis=1)
            keys = _split_keys(
                [
                    pa.array(order[:, min(p, order.shape[1] - 1)].astype(np.int32))
                    .cast(pa.string())
                    for p in range(max(nprobe, 1))
                ],
                vec,
                rounds,
            )
            arrays = [batch.column(0).cast(pa.int64()), vec]
            if extra:
                arrays.append(extra[2](u))
            # cell and probe0 are both the nearest centroid's key
            yield pa.RecordBatch.from_arrays(
                arrays + keys[:1] + keys[:nprobe], names=names
            )

    schema = ", ".join(
        ["vid long", "vec array<float>", *(f"{n} {extra[1]}" for n in extra_names)]
        + [f"{n} string" for n in key_names]
    )
    return _spread_large(emb.select(id_col, vec_col)).mapInArrow(assign, schema)


def ivf_build(
    emb: DataFrame,
    store,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int | None = None,
    train_sample: int = 4096,
    seed: int = 42,
    cell_cap: int | None = 4096,
    split_bits: int = 4,
    version: int = 0,
) -> dict:
    """Train + assign + persist an IVF index into ``store`` (a
    ``GraphStore``). Same quantizer recipe as ``ivf_topk`` (seeded
    hash-ordered bounded sample → driver k-means → distributed assign →
    cap-split), but the trained state lands as parquet snapshots so
    queries and appends never retrain. Returns the persisted params."""
    spark = emb.sparkSession
    sample, n_clusters = _train_sample(
        emb, id_col, vec_col, n_clusters, train_sample, seed
    )
    dim = sample.shape[1]
    cents = _kmeans(sample, n_clusters, seed=seed)

    # Cut the assignment: the recorded cap-split loop below runs one
    # aggregate + collect per round over this frame, and without the
    # cut each round re-runs the whole assign kernel (r9).
    corpus = cut(_assign_with_centroids(emb, cents, id_col, vec_col, nprobe=0))
    history: list[tuple[int, list[str]]] = []
    if cell_cap is not None:
        empty_q = spark.createDataFrame(
            [], "qid long, qvec array<float>, cell string"
        )
        corpus, _ = cap_ivf_cells(
            corpus,
            empty_q,
            cell_cap,
            dim=dim,
            seed=seed,
            split_bits=split_bits,
            record=history,
        )

    # The three state tables are driver-resident metadata (centroids ≈
    # √N rows, meta 1 row, splits ≈ oversized-cell count): publish them
    # with the store's in-process Arrow path — same layout, pointer
    # flip and crash-safe rename sequence, minus three fixed-size Spark
    # write jobs per build (r10; the schema matches what createDataFrame
    # produced, pinned by the persisted-index tests).
    cents_tbl = pa.table(
        {
            "cell": pa.array(range(len(cents)), pa.int32()),
            "centroid": pa.array(
                [[float(x) for x in row] for row in cents],
                pa.list_(pa.float32()),
            ),
        }
    )
    meta_tbl = pa.table(
        {
            "dim": pa.array([dim], pa.int32()),
            "n_clusters": pa.array([n_clusters], pa.int32()),
            "seed": pa.array([seed], pa.int32()),
            "split_bits": pa.array([split_bits], pa.int32()),
            "cell_cap": pa.array([int(cell_cap or 0)], pa.int32()),
        }
    )
    split_rows = [
        (r, sfx_seed, cell)
        for r, (sfx_seed, cells) in enumerate(history)
        for cell in cells
    ]
    splits_tbl = pa.table(
        {
            "round": pa.array([r for r, _, _ in split_rows], pa.int32()),
            "sfx_seed": pa.array([s for _, s, _ in split_rows], pa.int32()),
            "cell": pa.array([c for _, _, c in split_rows], pa.string()),
        }
    )
    # Hive-partition the codes by cell: a 100 TB reader that probes
    # nprobe cells scans only those partitions (the GraphStore label-
    # partitioning recipe applied to the IVF layout); locally the
    # cogroup reads the whole snapshot either way.
    store.write(corpus, "codes", version, partition_by=("cell",))
    store.write_arrow(cents_tbl, "centroids", version)
    store.write_arrow(meta_tbl, "meta", version)
    store.write_arrow(splits_tbl, "splits", version)
    return {
        "dim": dim,
        "n_clusters": n_clusters,
        "split_rounds": len(history),
    }


def _load_ivf_state(spark, store):
    """Bounded driver reads of the tiny index-state tables (centroids ≈
    √N rows, meta 1 row, splits ≈ oversized-cell count).

    Callers that query the same frozen index several times in one plan
    (the lifecycle certificates) should load once and pass the result
    through ``ivf_query_persisted(state=...)`` — each load is three
    small driver actions, pure fixed cost when the index has not
    changed between calls."""
    meta = store.read(spark, "meta").collect()[0].asDict()  # bounded: 1-row meta table
    cent_rows = store.read(spark, "centroids").collect()  # bounded: n_clusters rows (~sqrt N)
    cents = np.zeros((meta["n_clusters"], meta["dim"]), dtype=np.float64)
    for r in cent_rows:
        cents[r["cell"]] = r["centroid"]
    splits = store.read(spark, "splits").collect()  # bounded: one row per oversized-cell split
    by_round: dict[int, tuple[int, list[str]]] = {}
    for r in splits:
        seed_cells = by_round.setdefault(r["round"], (r["sfx_seed"], []))
        seed_cells[1].append(r["cell"])
    history = [by_round[k] for k in sorted(by_round)]
    return meta, cents, history


def ivf_append(
    new_emb: DataFrame,
    store,
    version: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    state: tuple | None = None,
) -> None:
    """Add new vectors to a persisted IVF index WITHOUT retraining: one
    frozen-quantizer assign pass, which replays the split history in the
    same Arrow kernel, landed as an O(batch) GraphStore delta (``read``
    unions it; ``compact`` folds it into the next snapshot). The FAISS
    ``index.add`` posture.

    ``state``: a pre-loaded ``_load_ivf_state`` result — pass it when
    appending several batches against the SAME frozen quantizer (the
    streaming-ingest cadence) so the three tiny state reads run once,
    not three driver actions per batch (r11; same contract as
    ``ivf_query_persisted(state=...)`` — appends write only the codes
    table, never the state tables, so the snapshot is immutable across
    the batch sequence)."""
    spark = new_emb.sparkSession
    meta, cents, history = (
        state if state is not None else _load_ivf_state(spark, store)
    )
    assigned = _assign_with_centroids(
        new_emb, cents, id_col, vec_col, 0, history, meta["split_bits"]
    )
    store.append_delta(assigned, "codes", version)


def ivf_query_persisted(
    queries: DataFrame,
    store,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prune: bool = True,
    state: tuple | None = None,
) -> DataFrame:
    """Top-k from a PERSISTED IVF index: no k-means anywhere (pinned by
    tests via ``KMEANS_CALLS``) — centroids come from a tiny parquet
    read, the assign kernel keys each probe and replays the recorded
    split history in the same Arrow pass, and the scorer cogroups
    against the codes snapshot. Identical semantics to ``ivf_topk``
    when the query set is the indexed corpus itself (self-masking
    scorer), which is what ``q_ann_persist`` exploits to hash-match the
    fresh-build answer.

    ``prune=False`` skips the isin() partition-prune and scans the full
    codes snapshot — the cell cogroup still restricts candidates, so
    the answer is identical; it exists so tests can assert the prune is
    answer-neutral against a genuinely unpruned read (ADVICE r8).

    ``state``: a pre-loaded ``_load_ivf_state`` result — pass it when
    issuing several queries against the SAME frozen index so the three
    tiny state reads run once, not per call (pure fixed cost; the
    answer is identical because the state is immutable between
    queries)."""
    spark = queries.sparkSession
    meta, cents, history = state if state is not None else _load_ivf_state(spark, store)
    nprobe = min(nprobe, meta["n_clusters"])
    assigned = _assign_with_centroids(
        queries, cents, id_col, vec_col, nprobe, history, meta["split_bits"]
    )
    # Partition-prune the codes read to the PROBED cells: the snapshot
    # is hive-partitioned by cell (ivf_build / layout-preserving
    # compact), so pushing the probed set as literal isin() turns the
    # scan into PartitionFilters over only those directories — at
    # 100 TB a query batch probing nprobe·|batch| cells reads exactly
    # that fraction of the index, not the whole corpus (pinned by
    # tests/test_llm_ops.py's PartitionFilters plan test). The probed
    # set is DIMENSION-sized (≤ n_clusters + split history, no matter
    # how many queries), so the collect is bounded; probe_q is a cut,
    # which that collect fills, so the assign kernel runs once, not
    # twice.
    probe_q = cut(_probe_rows(assigned, nprobe))
    probed = sorted(
        r["cell"] for r in probe_q.select("cell").distinct().collect()  # bounded: <= n_clusters + split cells
    )
    corpus = store.read(spark, "codes")
    # A snapshot with a recorded schema reads the cell column back as
    # the string it was written as; one without (older stores) goes
    # through partition type inference, which reads an all-numeric
    # cell column as int. Filter on the RAW column type — a cast under
    # the filter would defeat partition pruning — then normalize to
    # string for the cogroup.
    if prune and isinstance(corpus.schema["cell"].dataType, StringType):
        corpus = corpus.filter(F.col("cell").isin(probed))
    elif prune:
        corpus = corpus.filter(
            F.col("cell").isin(sorted({int(c) for c in probed}))
        )
    corpus = corpus.withColumn("cell", F.col("cell").cast("string"))
    return _cogroup_topk(
        probe_q, corpus, ["cell"], k, _topk_kernel(k, ("qid", "qvec")), dedup=True
    )


def label_centroids(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label centroid of an embedding column, emitted exploded as
    (label, pos, centroid) so downstream consumers (and the SQL
    oracle) need no array reassembly.

    Scale posture: posexplode is linear (dim × rows) and the single
    shuffle is the keyed hash aggregation on (label, pos) with partial
    map-side combine — the canonical distributed column-mean layout.
    Rounded to 4 dp to pin float32 summation-order noise.
    """
    return (
        emb.select(
            F.col(label_col).alias("label"),
            F.posexplode(F.col(vec_col)).alias("pos", "v"),
        )
        .groupBy("label", "pos")
        .agg(F.round(F.avg(F.col("v").cast("double")), 4).alias("centroid"))
    )


def _kmeans_l2(sample: np.ndarray, k: int, iters: int = 10, seed: int = 42) -> np.ndarray:
    """Plain Euclidean k-means on a driver-side sample — the codebook
    trainer for product quantization (subvectors are NOT unit vectors,
    so the spherical trainer above does not apply)."""
    rng = np.random.default_rng(seed)
    cents = sample[rng.choice(len(sample), size=k, replace=False)].copy()
    for _ in range(iters):
        d2 = ((sample[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = np.argmin(d2, axis=1)
        for c in range(k):
            members = sample[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents


def ivfpq_topk(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_clusters: int | None = 16,
    nprobe: int = 2,
    m: int = 8,
    codebook_k: int = 16,
    refine: int | None = None,
    train_sample: int = 4096,
    seed: int = 42,
    cell_cap: int | None = 4096,
) -> DataFrame:
    """IVF-PQ approximate top-k (the FAISS ``IVFx,PQm`` layout): an IVF
    coarse quantizer routes queries to ``nprobe`` cells, and INSIDE each
    cell candidates are scored from ``m``-byte product-quantization
    codes via an ADC lookup-table scan — ``m`` table lookups per
    candidate instead of a ``dim``-multiply dot product, with the codes
    table dim·4/m× smaller than the raw vectors (32× at dim=64, m=8).
    The top ``refine`` ADC candidates per query are re-ranked with the
    exact cosine, so emitted scores are true cosines (4 dp).
    ``refine=None`` (the default) sizes the re-rank depth from the
    corpus count — max(32, 4·k·ceil(log10 n)) — because a FIXED depth
    is a recall cliff in disguise: the sf10 heavy-value gate measured
    recall@5 collapsing 0.75 → 0.32 at 200k vectors with refine=32
    (near-tie clusters grow with the corpus, and ADC quantization
    shuffles ranks beyond a fixed buffer), restored to 0.62 at 64.
    Widening the PQ codebooks (256 vs 16) did NOT move recall on the
    same corpus — the refine depth is the binding factor.

    Scale posture: both quantizers train on ONE bounded driver sample
    (the FAISS recipe); encoding rides the IVF assign kernel's Arrow
    pass; the per-cell scan is the same cogroup shape as ``ivf_topk``
    but carries codes, not vectors — at 100 TB the cell working set
    shrinks by the PQ compression factor, which is the point of the
    operator. Self-query form, matching ``lsh_topk``/``ivf_topk``.
    k-means state has no SQL form, so certification is rows-only plus a
    recall-vs-brute-force test (tests/test_llm_ops.py).

    ``cell_cap`` (round-7, found by the sf10 probe): like ``ivf_topk``,
    oversized quantizer cells are sub-split with vector-derived
    sign-hyperplane suffixes so no cogroup task sees more than
    ``cell_cap`` candidates — without it a fixed cell count turned the
    per-cell ADC scan quadratic in corpus density (probes × candidates
    inside one cell) at the 200k-vector fixture. ``n_clusters=None``
    applies the same ~√N FAISS sizing as ``ivf_topk``."""
    spark = emb.sparkSession
    n = emb.count() if (n_clusters is None or refine is None) else None
    if refine is None:
        # Corpus-adaptive re-rank depth (see docstring): one parquet
        # metadata count buys a depth that tracks near-tie growth.
        refine = max(32, 4 * k * math.ceil(math.log10(max(10, n))))
    sample, n_clusters = _train_sample(
        emb, id_col, vec_col, n_clusters, train_sample, seed, n
    )
    train = _unit(sample)
    dim = train.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    coarse = _kmeans(train, n_clusters, seed=seed)
    # Residual-free PQ (the simpler IVFPQ variant): per-subspace
    # codebooks over the unit-normalized vectors themselves.
    books = np.stack(
        [
            _kmeans_l2(train[:, s * dsub : (s + 1) * dsub], codebook_k, seed=seed + s)
            for s in range(m)
        ]
    )  # (m, codebook_k, dsub)
    bc_books = spark.sparkContext.broadcast(books)

    def encode(u):
        codes = np.empty((len(u), m), dtype=np.int32)
        for s in range(m):
            sub = u[:, s * dsub : (s + 1) * dsub]
            d2 = ((sub[:, None, :] - bc_books.value[s][None, :, :]) ** 2).sum(axis=2)
            codes[:, s] = np.argmin(d2, axis=1)
        # codes as one ListArray over the raveled matrix — no per-row
        # Python lists (r10, same recipe as _arrow_matrix ingest;
        # offsets are the trivial arange × m).
        return pa.ListArray.from_arrays(
            pa.array(np.arange(len(u) + 1, dtype=np.int32) * m),
            pa.array(codes.ravel()),
        )

    assigned = _assign_with_centroids(
        emb, coarse, id_col, vec_col, nprobe, extra=("codes", "array<int>", encode)
    )
    corpus, queries = _capped_roles(
        assigned, ["vid", "vec", "codes", "cell"], nprobe, cell_cap, dim, seed
    )

    def score(key, qt, ct):
        # applyInArrow (r10): vectors AND codes ingest zero-copy — the
        # pandas form paid one ndarray object per row for qvec/vec plus
        # np.vstack over per-row codes lists, the conversion cost that
        # bound this certificate's sf100 wall (SCALING.md). Scoring
        # math unchanged (same LUT/ADC, same rounded float64 re-rank).
        if qt.num_rows == 0 or ct.num_rows == 0:
            return _topk_table([], [], [])
        qi, ci = qt.column("qid").to_numpy(), ct.column("vid").to_numpy()
        qu = _unit(_arrow_matrix(qt.column("qvec")))
        codes = _arrow_matrix(ct.column("codes"), dtype=np.int64)  # (n, m)
        cu = _unit(_arrow_matrix(ct.column("vec")))
        books_ = bc_books.value
        n_q, n_c = len(qu), len(ci)
        rr = min(refine, n_c)
        # ADC for ALL queries in one shot (round-7, sf10 probe): the
        # per-query python loop made the cell scan queries × candidates
        # in interpreter time; the LUT build and the m gathers are now
        # numpy-batched — lut[r, s, c] = <q_r's subvector s, book_s[c]>,
        # adc[r, n] = Σ_s lut[r, s, codes[n, s]].
        lut = np.einsum(
            "rsd,skd->rsk", qu.reshape(n_q, m, dsub), books_
        )  # (n_q, m, codebook_k)
        adc = np.zeros((n_q, n_c))
        for s in range(m):
            adc += lut[:, s, codes[:, s]]
        adc[qi[:, None] == ci[None, :]] = -np.inf
        if rr < n_c:
            cand_all = np.argpartition(-adc, rr - 1, axis=1)[:, :rr]
        else:
            cand_all = np.broadcast_to(np.arange(n_c), (n_q, n_c))
        out_q, out_n, out_c = [], [], []
        for r in range(n_q):
            cand = cand_all[r]
            cand = cand[np.isfinite(adc[r, cand])]
            if not len(cand):
                continue
            # exact re-rank of the refine set only
            exact = np.round(cu[cand] @ qu[r], 4)
            order = np.lexsort((ci[cand], -exact))[: min(k, len(cand))]
            out_q.append(np.full(len(order), qi[r], dtype=np.int64))
            out_n.append(ci[cand[order]].astype(np.int64))
            out_c.append(exact[order])
        return _topk_table(out_q, out_n, out_c)

    return _cogroup_topk(queries, corpus, ["cell"], k, score, dedup=True)


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k_const: int = 60,
    k: int = 20,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of N ranked lists:
    ``rrf(d) = Σ_r 1/(k_const + rank_r(d))`` over the rankers that
    returned ``d``; top-``k`` by fused score, id tiebreak. The standard
    score-free hybrid-retrieval combiner (lexical BM25 + vector ANN):
    rank positions compose across incomparable score scales.

    Scale posture: each input ranking is already bounded (a top-N), so
    the union + id-keyed sum aggregate + top-k heap all run over
    O(N · rankers) rows regardless of corpus size — fusion cost is
    independent of the data the rankers searched. Double determinism:
    each group sums ≤ len(rankings) IEEE terms; for the 2-ranker hybrid
    the sum is a single commutative add, fold-order independent.
    """
    terms = [
        r.select(
            F.col(id_col).alias(id_col),
            (F.lit(1.0) / (F.lit(k_const) + F.col(rank_col))).alias("w"),
        )
        for r in rankings
    ]
    u = terms[0]
    for t in terms[1:]:
        u = u.unionByName(t)
    return (
        u.groupBy(id_col)
        .agg(
            F.round(F.sum("w"), 6).alias("rrf"),
            F.count("*").cast("int").alias("n_rankers"),
        )
        .orderBy(F.desc("rrf"), id_col)
        .limit(k)
    )


def mmr_rerank(
    candidates: DataFrame,
    corpus_codes: DataFrame,
    k: int = 4,
    lam_num: int = 7,
    id_col: str = "vec_id",
    codes_col: str = "codes",
) -> DataFrame:
    """Maximal-marginal-relevance re-ranking over per-query candidate
    lists (Carbonell & Goldstein 1998) — the diversity pass every
    retrieval stack runs between ANN candidates and the final context:
    greedily pick argmax λ·rel(q,d) − (1−λ)·max_{s∈picked} sim(d,s).

    Exactness: relevance and pairwise similarity are INTEGER dot
    products over int8 codes, λ = lam_num/10 folds into the integer
    objective score10 = lam_num·rel − (10−lam_num)·max_sim (pick 1 has
    no penalty term by the MMR convention), ties break on the smaller
    id — the greedy trace is fully deterministic, so a DuckDB oracle
    can replay it step by step.

    Scale shape: candidates arrive pre-bounded (the certified ANN
    top-C path); the greedy runs per query in ONE applyInArrow group
    whose cost is C²·dim — request-sized work, never corpus-sized; the
    group's code vectors ingest zero-copy (``_arrow_matrix``).
    The only shuffles are the candidate join to its code vectors and
    the per-query grouping.

    ``candidates``: (query_id, neighbor_id, rel). ``corpus_codes``:
    (id_col, codes_col) int8 code arrays. Returns (query_id,
    pick_rank, vec_id, score10)."""
    lam_rem = 10 - lam_num
    cand = candidates.join(
        corpus_codes.select(
            F.col(id_col).alias("neighbor_id"), F.col(codes_col).alias("c")
        ),
        "neighbor_id",
    )

    def greedy(key, t):
        ids = t.column("neighbor_id").to_numpy()
        rel = t.column("rel").to_numpy().astype(np.int64)
        mat = _arrow_matrix(t.column("c"), dtype=np.int64)
        sims = mat @ mat.T  # C×C integer similarity
        picked: list[int] = []
        scores: list[int] = []
        remaining = np.ones(len(ids), dtype=bool)
        for _ in range(min(k, len(ids))):
            if picked:
                max_sim = sims[:, picked].max(axis=1)
                obj = lam_num * rel - lam_rem * max_sim
            else:
                obj = lam_num * rel
            # Select among the REMAINING indices only (negating a
            # sentinel int64 min overflows, so masking via sentinels
            # would re-pick masked rows).
            rem_idx = np.flatnonzero(remaining)
            local = np.lexsort((ids[rem_idx], -obj[rem_idx]))[0]
            j = int(rem_idx[local])
            picked.append(j)
            scores.append(int(obj[j]))
            remaining[j] = False
        return pa.table(
            {
                "query_id": np.full(len(picked), _key_py(key[0]), dtype=np.int64),
                "pick_rank": np.arange(1, len(picked) + 1, dtype=np.int64),
                "vec_id": ids[picked].astype(np.int64),
                "score10": np.array(scores, dtype=np.int64),
            }
        )

    return cand.groupBy("query_id").applyInArrow(
        greedy, schema="query_id long, pick_rank long, vec_id long, score10 long"
    )
