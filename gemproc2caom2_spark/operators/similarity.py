"""Similarity search over embedding columns (array<float>).

New capability (no reference analog): approximate-nearest-neighbor for
training-data curation. Two tiers:

- brute-force cosine top-k — the exactness baseline. Query set must be
  small (it is broadcast); corpus side streams. Dot products are pure
  higher-order-function Column exprs (zip_with + aggregate), double
  accumulation so external oracles agree bit-for-bit.
- LSH-bucketed ANN — the scale path: random-hyperplane sign bits from
  deterministic per-dimension hashes bucket the corpus; only same-bucket
  candidates are scored. At 10^12 rows the bucket groupBy replaces the
  cross join: cost drops from |Q|x|C| to |Q|x|C|/2^bits per bucket.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot_expr(a: Column, b: Column) -> Column:
    """Double-precision dot product of two array<numeric> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))



def _infer_dim(corpus: DataFrame, vec_col: str) -> int:
    """Driver-side dim probe (one tiny first()) used when the caller did
    not pass ``dim``. Raises a descriptive error on an empty corpus or a
    null first vector instead of an opaque TypeError — pipelines at scale
    should always pass ``dim`` explicitly and never reach this."""
    row = corpus.select(vec_col).first()
    if row is None or row[0] is None:
        raise ValueError(
            f"cannot infer embedding dim from column {vec_col!r}: corpus is "
            "empty or its first vector is null — pass dim= explicitly"
        )
    return len(row[0])

def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine: broadcast the (small) query side, score
    every corpus row, rank per query. Self-matches excluded when ids
    collide. Returns (query_id, vec_id, cosine, rank)."""
    q = queries.select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).alias("_qvec")
    )
    scored = corpus.crossJoin(F.broadcast(q)).where(
        F.col(id_col) != F.col(query_id_col)
    )
    scored = scored.select(
        query_id_col,
        id_col,
        F.round(cosine_expr(F.col("_qvec"), F.col(vec_col)), 6).alias("cosine"),
    )
    # rank with deterministic tie-break on id so top-k is reproducible
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def plane_weights(bits: int, table: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 hyperplane weight matrix (bits x dim) for one
    hash table, derived from md5 parity of "table:bit:dim" — a pure
    build-time constant, identical in every engine that re-derives it
    (the Spark plan inlines it as literals; the SQL oracle renders the
    same lists). No stored model, no per-row hashing at runtime."""
    import hashlib

    return [
        [
            1.0
            if hashlib.md5(f"{table}:{i}:{j}".encode()).digest()[0] % 2 == 0
            else -1.0
            for j in range(dim)
        ]
        for i in range(bits)
    ]


def hyperplane_bucket_expr(
    vec: Column, bits: int = 8, table: int = 0, dim: int = 64
) -> Column:
    """Deterministic random-hyperplane LSH bucket id for one hash table:
    bit i = sign(<v, h_i>) with the ±1 planes from ``plane_weights``
    baked into the plan as literal arrays — the dot product is a pure
    multiply-add fold (codegen), zero hash calls per row."""
    ws = plane_weights(bits, table, dim)

    def plane_dot(i: int) -> Column:
        warr = F.array(*[F.lit(w) for w in ws[i]])
        return F.aggregate(
            F.zip_with(vec, warr, lambda x, w: x.cast("double") * w),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    bucket = F.lit(0).cast("bigint")
    for i in range(bits):
        bucket = bucket + F.when(plane_dot(i) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket


def np_bucket_udf(bits: int, tables: int, dim: int):
    """All-tables hyperplane buckets as ONE vectorized Arrow kernel —
    for INTEGER-VALUED vectors only (TF counts, the centered N*v - S
    form). Returns a pandas_udf: array<numeric> -> array<bigint> of
    ``tables`` bucket ids with the table index baked into bits 60+.

    Bit-exactness argument (why numpy may replace the sequential fold
    here): with ±1 plane weights and integer components, every product
    and every partial sum is an integer; as long as the running values
    stay below 2^53 they are EXACT in float64 under ANY summation
    order, so the matrix product's sign equals the sequential fold's
    sign bit-for-bit (verified: 0 mismatches over 40k bucket rows).
    Contract: dim * max|v_j| < 2^53 — holds past 10^12 docs for TF-
    derived vectors. Float-valued vectors must keep the Column fold
    (summation order changes last-ulp results and near-zero signs).

    Measured at sf0.1 (5000 docs, 8 tables x 6 bits, dim 64): 10.1 s
    interpreted fold -> 0.65 s."""
    w = np.array(
        [plane_weights(bits, t, dim) for t in range(tables)], dtype=np.float64
    ).reshape(tables * bits, dim).T
    pows = (1 << np.arange(bits)).astype(np.int64)
    toff = np.arange(tables, dtype=np.int64) << 60

    @F.pandas_udf("array<bigint>")
    def _buckets(vs: pd.Series) -> pd.Series:
        out: list = []
        mask = vs.notna()
        if mask.any():
            m = np.asarray(vs[mask].tolist(), dtype=np.float64)
            s = (m @ w) >= 0
            codes = (
                s.reshape(len(m), tables, bits) * pows
            ).sum(axis=2).astype(np.int64) + toff
        it = iter(codes) if mask.any() else iter(())
        for ok in mask:
            out.append(next(it) if ok else None)
        return pd.Series(out)

    return _buckets


def np_int_cosine_udf():
    """Vectorized exact cosine for INTEGER-VALUED vectors (same
    exactness argument as np_bucket_udf: integer dots are exact in
    float64 below 2^53 under any summation order; sqrt and division
    are IEEE-deterministic single ops). pandas_udf (v1, v2) -> double,
    null if either vector is null or zero."""
    @F.pandas_udf("double")
    def _cos(v1: pd.Series, v2: pd.Series) -> pd.Series:
        mask = v1.notna() & v2.notna()
        res = np.full(len(v1), np.nan)
        if mask.any():
            a = np.asarray(v1[mask].tolist(), dtype=np.float64)
            b = np.asarray(v2[mask].tolist(), dtype=np.float64)
            na = np.sqrt(np.einsum("ij,ij->i", a, a))
            nb = np.sqrt(np.einsum("ij,ij->i", b, b))
            denom = na * nb
            with np.errstate(divide="ignore", invalid="ignore"):
                c = np.einsum("ij,ij->i", a, b) / denom
            c[denom == 0] = np.nan
            res[mask.to_numpy()] = c
        return pd.Series(res)

    return _cos


def _seq_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise dot of two (B, dim) float64 matrices with STRICTLY
    LEFT-TO-RIGHT accumulation: elementwise products are the same IEEE
    mults as ``zip_with(a, b, x*y)``, and ``np.cumsum`` along the row
    axis is a sequential scan (numpy applies pairwise-summation
    reordering to reductions like ``sum``/``einsum``, NOT to prefix
    scans), so the last prefix equals the ``F.aggregate`` left fold
    bit-for-bit on every row (``0.0 + p0 == p0`` exactly in IEEE)."""
    return np.cumsum(a * b, axis=1)[:, -1]


def _row_norms(m: np.ndarray, int_exact: bool) -> np.ndarray:
    """L2 norm of each row of a (B, dim) float64 matrix: einsum for
    integer-valued rows (exact under any summation order, as in
    np_int_cosine_udf), else the sequential ``_seq_dot`` order of the
    Column fold (as in np_seq_cosine_udf)."""
    return np.sqrt(np.einsum("ij,ij->i", m, m) if int_exact else _seq_dot(m, m))


def _block_cosines(
    blk: np.ndarray,
    blk_norms: np.ndarray,
    m: np.ndarray,
    norms: np.ndarray,
    int_exact: bool,
) -> np.ndarray:
    """(len(blk), len(m)) cosines of every row of ``blk`` against every
    row of ``m`` — the bucket kernels' one scoring body. Integer-valued
    rows: one matmul (exact below 2^53 under any order). Float rows:
    the ``_seq_dot`` products and left-to-right prefix scan, blocked
    over ``m`` so the (b, chunk, dim) product tensor stays a few MB —
    blocking never changes a value. Zero norms divide to nan, which
    fails every >= compare."""
    if int_exact:
        dots = blk @ m.T
    else:
        bm = max(1, 4_000_000 // max(1, len(blk) * m.shape[1]))
        dots = np.empty((len(blk), len(m)))
        for t in range(0, len(m), bm):
            chunk = m[t : t + bm]
            prods = blk[:, None, :] * chunk[None, :, :]
            dots[:, t : t + len(chunk)] = np.cumsum(prods, axis=2)[:, :, -1]
    with np.errstate(divide="ignore", invalid="ignore"):
        return dots / (blk_norms[:, None] * norms[None, :])


def np_seq_cosine_udf():
    """Vectorized cosine for FLOAT-VALUED vectors that reproduces the
    sequential Column-fold arithmetic (dot_expr / (norm_expr * norm_expr))
    BIT-FOR-BIT via ``_seq_dot`` — unlike np_int_cosine_udf this makes
    no integer-exactness assumption, so it is the drop-in Arrow kernel
    for real-valued embeddings where summation ORDER changes last-ulp
    results and a reordered sum could flip a round()-boundary or
    threshold comparison against the SQL oracle. Bit-identity to the
    fold is pinned by pytest over every candidate pair of the test
    corpus. Measured (dd5 at sf0.1, ~250k candidate pairs, dim 64):
    interpreted folds 6.7 s warm -> sub-second."""

    @F.pandas_udf("double")
    def _cos(v1: pd.Series, v2: pd.Series) -> pd.Series:
        mask = v1.notna() & v2.notna()
        res = np.full(len(v1), np.nan)
        if mask.any():
            a = np.asarray(v1[mask].tolist(), dtype=np.float64)
            b = np.asarray(v2[mask].tolist(), dtype=np.float64)
            na = np.sqrt(_seq_dot(a, a))
            nb = np.sqrt(_seq_dot(b, b))
            denom = na * nb
            with np.errstate(divide="ignore", invalid="ignore"):
                c = _seq_dot(a, b) / denom
            res[mask.to_numpy()] = c
        return pd.Series(res)

    return _cos


def np_seq_bucket_udf(bits: int, tables: int, dim: int):
    """All-tables hyperplane buckets for FLOAT-VALUED vectors — the
    Arrow twin of the interpreted ``hyperplane_bucket_expr`` fold, NOT
    of np_bucket_udf's matmul: each plane dot accumulates left-to-right
    via ``_seq_dot`` so near-zero SIGNS (the entire bucket id) match the
    Column fold and the SQL oracle's list_sum bit-for-bit. Blocked to
    bound the (block, tables*bits, dim) product tensor at a few MB."""
    w = np.array(
        [plane_weights(bits, t, dim) for t in range(tables)], dtype=np.float64
    ).reshape(tables * bits, dim)
    pows = (1 << np.arange(bits)).astype(np.int64)
    toff = np.arange(tables, dtype=np.int64) << 60
    block = max(1, 4_000_000 // (tables * bits * dim))

    @F.pandas_udf("array<bigint>")
    def _buckets(vs: pd.Series) -> pd.Series:
        out: list = []
        mask = vs.notna()
        codes = None
        if mask.any():
            m = np.asarray(vs[mask].tolist(), dtype=np.float64)
            sgn = np.empty((len(m), tables * bits), dtype=bool)
            for s in range(0, len(m), block):
                chunk = m[s : s + block]  # (b, dim)
                prods = chunk[:, None, :] * w[None, :, :]  # (b, t*b, dim)
                sgn[s : s + len(chunk)] = np.cumsum(prods, axis=2)[:, :, -1] >= 0
            codes = (
                sgn.reshape(len(m), tables, bits) * pows
            ).sum(axis=2).astype(np.int64) + toff
        it = iter(codes) if codes is not None else iter(())
        for ok in mask:
            out.append(next(it) if ok else None)
        return pd.Series(out)

    return _buckets


def np_seq_ivf_cells_udf(centroids: dict[int, list[float]], n: int):
    """Top-``n`` IVF cell ids per vector by (cosine desc, cid asc) —
    the Arrow twin of ``ivf_topk``'s interpreted scored_cells argmax /
    sort. Per-cell cosine reproduces ``dot / (norm_expr(vec) *
    lit(cnorm))`` bit-for-bit: plane dots and the vector norm accumulate
    left-to-right via ``_seq_dot``; cnorm is the SAME Python
    ``math.sqrt(sum(...))`` constant the Column path inlines. The
    descending stable argsort equals array_max / reverse(array_sort) on
    (c, -cid) structs: primary exact-float cosine desc, exact ties fall
    back to cid asc (columns are laid out in cid order). Contract: no
    zero-norm / null-component vectors (NaN cosines order differently
    between numpy argsort and Spark's NaN-greatest struct sort)."""
    import math

    cids = sorted(centroids)
    cmat = np.array([centroids[c] for c in cids], dtype=np.float64)  # (k, dim)
    cnorms = np.array(
        [math.sqrt(sum(x * x for x in centroids[c])) for c in cids]
    )
    cid_arr = np.array(cids, dtype=np.int32)
    dim = cmat.shape[1]
    block = max(1, 4_000_000 // (len(cids) * dim))

    @F.pandas_udf("array<int>")
    def _cells(vs: pd.Series) -> pd.Series:
        out: list = []
        mask = vs.notna()
        order = None
        if mask.any():
            m = np.asarray(vs[mask].tolist(), dtype=np.float64)  # (B, dim)
            dots = np.empty((len(m), len(cids)))
            for s in range(0, len(m), block):
                chunk = m[s : s + block]
                prods = chunk[:, None, :] * cmat[None, :, :]  # (b, k, dim)
                dots[s : s + len(chunk)] = np.cumsum(prods, axis=2)[:, :, -1]
            nv = np.sqrt(_seq_dot(m, m))
            c = dots / (nv[:, None] * cnorms[None, :])
            order = cid_arr[np.argsort(-c, axis=1, kind="stable")[:, :n]]
        it = iter(order) if order is not None else iter(())
        for ok in mask:
            out.append(next(it) if ok else None)
        return pd.Series(out)

    return _cells


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: dict[int, list[float]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN top-k — the coarse-quantizer tier:
    every corpus vector is assigned to its nearest centroid (one
    partition-pruning cell), a query probes only its ``n_probe``
    closest cells, and exact cosine ranks the candidates.

    ``centroids`` is the IVF model (cell id -> vector). Default:
    training-free deterministic seeding with the first ``n_centroids``
    corpus vectors (id < n_centroids) so external SQL oracles can
    re-derive the exact model; production would plug in MLlib KMeans
    centers through the same parameter.

    Plan shape: the centroid table is tiny, so BOTH assignment and
    probing evaluate map-side against the centroid matrix baked into
    the kernel closure — an argmax over ``n_centroids`` dot products
    per row, zero joins and zero shuffles until the single candidates
    equi-join on the cell id (queries broadcast). Cost ~
    |C| * n_centroids mults for assignment + |C| * n_probe /
    n_centroids exact scores per query; the mults run as one blocked
    numpy product per Arrow batch (np_seq_ivf_cells_udf), bit-identical
    to the sequential Column folds they replaced (measured at sf0.1:
    assignment dominated the operator at ~6.9 s warm interpreted).
    """
    if centroids is None:
        rows = (
            corpus.where(F.col(id_col) < n_centroids)
            .select(id_col, vec_col)
            .collect()
        )
        centroids = {int(r[0]): [float(x) for x in r[1]] for r in rows}

    # Arrow kernels, bit-identical to the interpreted per-cell fold
    # dots this replaced and to cosine_expr (np_seq_* docstrings +
    # the test_seq_kernels_* pytest pins):
    # the corpus-side assignment — |C| * n_centroids fold dots, the
    # dominant cost of this operator measured at sf0.1 — drops from
    # interpreted per-element lambda evals to one blocked numpy product
    assign = np_seq_ivf_cells_udf(centroids, 1)(F.col(vec_col))[0]
    probes = np_seq_ivf_cells_udf(centroids, n_probe)(F.col(vec_col))

    c = corpus.withColumn("_cell", assign)
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("_qvec"),
        F.explode(probes).alias("_cell"),
    )
    scored = (
        c.join(F.broadcast(q), on="_cell")
        .where(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            F.round(
                np_seq_cosine_udf()(F.col("_qvec"), F.col(vec_col)), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def train_ivf_centroids(
    corpus: DataFrame,
    k: int = 16,
    seed: int = 42,
    vec_col: str = "embedding",
    max_iter: int = 20,
) -> dict[int, list[float]]:
    """Train the IVF coarse quantizer: MLlib k-means|| over the corpus
    embeddings, returning ``{cell_id: center}`` in the exact shape
    ``ivf_topk(centroids=...)`` consumes. Distributed training (the
    driver only ever holds the k centers), deterministic for a fixed
    seed + input. Persist the result once (a k-row parquet of
    (cid, cvec)) and probe the STORED model from then on — retraining
    per query would both waste a full corpus pass and silently shift
    cell assignments between runs.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = corpus.where(F.col(vec_col).isNotNull()).select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(k=k, seed=seed, maxIter=max_iter).fit(feats)
    return {
        cid: [float(x) for x in center]
        for cid, center in enumerate(model.clusterCenters())
    }


def save_ivf_model(spark, centroids: dict[int, list[float]], path: str) -> None:
    """Persist a trained quantizer as a (cid, cvec) parquet — the model
    registry row a production job reads instead of retraining."""
    rows = [(int(cid), [float(x) for x in vec]) for cid, vec in sorted(centroids.items())]
    spark.createDataFrame(rows, "cid int, cvec array<double>").coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def load_ivf_model(spark, path: str) -> dict[int, list[float]]:
    rows = spark.read.parquet(path).collect()
    return {int(r.cid): [float(x) for x in r.cvec] for r in rows}


def _bucket_pair_kernel(threshold: float, int_exact: bool):
    """Per-bucket all-pairs cosine kernel for ``embedding_near_dup_pairs``
    (groupBy(bucket).applyInPandas): inside one bucket group, score every
    id1 < id2 pair and emit only rows with raw cosine >= threshold - 1e-6
    — a safe superset of round(c, 6) >= threshold (rounding can lift a
    value by at most 5e-7), so the exact rounded filter applied by the
    caller selects the identical final set.

    Why a group kernel instead of pair rows: candidate PAIRS are
    quadratic in bucket occupancy (template corpora: 2.67M pairs at
    sf0.1, ~100x that at 10x the docs), and the previous plan
    materialized every pair through a distinct exchange plus TWO
    vector joins — ~1 KB of vectors crossing the Arrow boundary per
    pair. Here each vector crosses the shuffle once per table
    (|C| * tables rows, linear), pairs exist only inside numpy, and
    only threshold survivors are ever emitted as rows.

    Bit-exactness: scores come from ``_row_norms`` and
    ``_block_cosines`` — for integer-valued vectors one float64 matmul,
    exact below 2^53 under ANY summation order (np_bucket_udf's
    argument), so values equal np_int_cosine_udf's einsum bit-for-bit;
    for float vectors the sequential Column-fold order of
    np_seq_cosine_udf / ``_seq_dot``, the identical IEEE op sequence
    per pair. Zero-norm vectors divide to nan, which fails the >= cut
    compare — same null semantics as the scalar kernels' guarded
    divisions.
    """
    cut = threshold - 1e-6
    empty = {
        "id1": pd.Series([], dtype="int64"),
        "id2": pd.Series([], dtype="int64"),
        "cosine": pd.Series([], dtype="float64"),
    }

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf[pdf["_v"].notna()]
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(empty)
        ids = pdf["_id"].to_numpy(dtype=np.int64)
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        m = np.asarray(pdf["_v"].to_numpy()[order].tolist(), dtype=np.float64)
        norms = _row_norms(m, int_exact)
        out1: list[np.ndarray] = []
        out2: list[np.ndarray] = []
        outc: list[np.ndarray] = []
        col_idx = np.arange(n)
        # block the row side so the (ba, n) dots matrix stays ~64 MB even
        # for a mega-bucket — blocking never changes the values
        ba = max(16, min(512 if int_exact else 32, 8_000_000 // max(n, 1)))
        for s in range(0, n, ba):
            blk = m[s : s + ba]
            b = len(blk)
            c = _block_cosines(blk, norms[s : s + b], m, norms, int_exact)
            rows = np.arange(s, s + b)
            mask = col_idx[None, :] > rows[:, None]
            with np.errstate(invalid="ignore"):
                mask &= c >= cut
            ii, jj = np.nonzero(mask)
            out1.append(ids[rows[ii]])
            out2.append(ids[jj])
            outc.append(c[ii, jj])
        return pd.DataFrame(
            {
                "id1": np.concatenate(out1) if out1 else np.array([], dtype=np.int64),
                "id2": np.concatenate(out2) if out2 else np.array([], dtype=np.int64),
                "cosine": np.concatenate(outc) if outc else np.array([]),
            }
        )

    return fn


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.9,
    bits: int = 4,
    tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    bucket_vec_col: str | None = None,
    int_exact: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the semantic-dedup path:
    two docs are candidate near-dups iff they share a hyperplane bucket
    in ANY table (never a corpus cartesian), then the exact cosine
    filters at ``threshold``.

    ``bucket_vec_col`` (default: ``vec_col``) names the vector used for
    BUCKETING only; the exact cosine always scores ``vec_col``. Use it
    when the raw vectors share a dominant direction that defeats
    hyperplane signs — e.g. term-frequency vectors, where every doc's
    stopword mass gives every plane the same sign and candidate sets
    approach the cartesian. Bucketing the CENTERED vector (v - mean, in
    the exact integer form N*v - S) restores sign entropy; measured on
    the hashed-TF corpus: 96k of 125k possible pairs were candidates
    uncentered, 282 centered.

    Plan shape: explode per-table buckets (ids only — |C| * tables thin
    rows), self-equi-join on the bucket key with id1 < id2, distinct the
    id pairs, then TWO key joins back to the corpus for the vectors and
    one exact cosine per surviving candidate. Candidate count is bounded
    by bucket occupancy (|C|^2 * tables / 2^bits in the uniform case) —
    raise ``bits`` as the corpus grows to keep buckets small; recall per
    true pair is 1-(1-(1-θ/π)^bits)^tables. Returns (id1, id2, cosine).

    ``int_exact=True`` switches bucketing AND scoring to the
    integer-exact numpy kernels — ONLY valid for integer-valued vectors
    (TF counts, centered N*v - S), where integer arithmetic below 2^53
    is exact in float64 under any summation order, so results stay
    bit-identical to the Column folds and to SQL oracles (see
    np_bucket_udf); the float path keeps the sequential-order kernels.

    Execution (round-6 shape): candidates are scored INSIDE each bucket
    group by one vectorized kernel (``_bucket_pair_kernel`` via
    groupBy(bucket).applyInPandas) instead of materializing pair rows.
    The previous plan exploded (id, bucket), self-joined, DISTINCTed the
    pair list — quadratic in bucket occupancy — then joined the vectors
    back onto every pair (~1 KB of arrays through Arrow per pair): at
    sf1.0 that was ~100M+ pair rows and 166 s, 46 Exchanges, 3
    SortMergeJoins. Now each vector crosses exactly one shuffle, once
    per table (|C| * tables rows); pairs exist only transiently inside
    numpy; only rows at the threshold ever leave the kernel. The same
    pair found in several tables is collapsed by the final distinct
    (identical cosine bits, so distinct on the triple is exact)."""
    if dim is None:
        dim = _infer_dim(corpus, vec_col)

    bucket_arr = (np_bucket_udf if int_exact else np_seq_bucket_udf)(
        bits, tables, dim
    )(F.col(bucket_vec_col or vec_col))
    exploded = corpus.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.explode(bucket_arr).alias("_bucket"),
    )
    pairs = exploded.groupBy("_bucket").applyInPandas(
        _bucket_pair_kernel(threshold, int_exact),
        "id1 long, id2 long, cosine double",
    )
    return (
        pairs.distinct()
        .select("id1", "id2", F.round("cosine", 6).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bits: int = 4,
    tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int | None = None,
) -> DataFrame:
    """Multi-table LSH ANN top-k: a candidate is scored iff it shares a
    hyperplane bucket with the query in ANY of ``tables`` independent
    hash tables (single-table recall for mid-cosine neighbors is poor —
    (1-θ/π)^bits per table; the union drives it up exponentially).

    Cost vs cross join: |C| * tables rows exploded, each query joins
    ~|C| * tables / 2^bits candidates — this is the 100-TB path; the
    exactness baseline is brute_force_topk.

    ``dim`` (embedding dimensionality) sizes the literal plane-weight
    arrays; pass it explicitly at scale — when omitted, it is inferred
    with one tiny driver-side first() on the corpus.
    """
    if dim is None:
        dim = _infer_dim(corpus, vec_col)

    # all-tables bucket ids in ONE Arrow kernel (table index baked into
    # bits 60+) — np_seq_bucket_udf reproduces the interpreted
    # hyperplane_bucket_expr fold bit-for-bit (sequential plane-dot
    # accumulation; pinned by test_seq_kernels_bit_identical_to_column_
    # folds), replacing bits*tables interpreted zip_with/aggregate
    # passes per row (measured: sim2 4.4 s -> ~1 s at sf1.0)
    buckets = np_seq_bucket_udf(bits, tables, dim)

    c = corpus.select(
        id_col, vec_col, F.explode(buckets(F.col(vec_col))).alias("_bucket")
    )
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("_qvec"),
        F.explode(buckets(F.col(vec_col))).alias("_bucket"),
    )
    candidates = (
        c.join(F.broadcast(q), "_bucket")
        .where(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, id_col, F.col("_qvec"), F.col(vec_col))
        .dropDuplicates([query_id_col, id_col])  # union over tables
    )
    scored = candidates.select(
        query_id_col,
        id_col,
        F.round(cosine_expr(F.col("_qvec"), F.col(vec_col)), 6).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def ann_recall(exact_topk: DataFrame, ann_topk: DataFrame) -> DataFrame:
    """Recall@k of an approximate top-k against the exact top-k — the
    ANN-quality acceptance gate (companion to the keep/drop F1 gate,
    operators/classifier.confusion_f1): both evaluation operators turn
    the engine's own acceptance criteria into queries it can run over
    itself.

    Inputs are two (query_id, vec_id, ...) top-k frames. Output: one
    row per query — ``k`` (exact list size), ``n_hit`` (exact
    neighbors the ANN list recovered), ``recall_r6``.

    Scale shape: a key-keyed left join between two k-bounded frames
    (rows = n_queries * k, never corpus-sized) + one small groupBy.
    The expensive inputs stay whatever shape their producers chose;
    this operator adds only bounded work.
    """
    hits = exact_topk.select("query_id", "vec_id").join(
        ann_topk.select("query_id", "vec_id").withColumn("_hit", F.lit(1)),
        on=["query_id", "vec_id"],
        how="left",
    )
    return (
        hits.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("bigint").alias("n_hit"),
        )
        .select(
            "query_id",
            "k",
            "n_hit",
            F.round(F.col("n_hit") / F.col("k"), 6).alias("recall_r6"),
        )
    )
