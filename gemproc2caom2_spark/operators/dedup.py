"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

New capability with no reference analog (the reference's only dedup is
set-typed accumulation, TypedSet at
/root/reference/gemProc2caom2/provenance_augmentation.py:112-135); the
design constraint comes from the survey's scale analysis: band-bucketed
groupBy with per-bucket caps, NEVER a pairwise cartesian across the
corpus.

Shuffle budget per operator (the thing that matters at 10^12 rows):
- exact:        groupBy fingerprint (map-side combine) + join back.
- minhash LSH:  signature map-side (UDF or Column exprs), explode bands,
                groupBy (band,bucket) min — partial aggregation runs
                map-side, so a boilerplate mega-bucket never lands on
                one task the way a window sort would — then join +
                groupBy url fold-back. No pairs anywhere.
- simhash:      map-side signature; candidate pairing via band buckets
                like minhash.
- ngram-jaccard: explode shingle hashes (sizes carried inline, so the
                shingling pass runs exactly ONCE), groupBy shingle into
                document-frequency-capped buckets, emit ordered pairs
                per bucket JVM-side, groupBy pair. Two shuffles total,
                no self-join, no recompute, no persist barrier.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from gemproc2caom2_spark.functions.hashing import (
    M31,
    MERSENNE_61,
    hex15_hash,
    minhash_perm_params,
    minhash_signature_sql,
)
from gemproc2caom2_spark.functions.text import word_shingles

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def normalized_fingerprint(text: Column | str) -> Column:
    """md5 of lowercased, whitespace-collapsed text — the exact-dup key.
    md5 (not xxhash64) so external SQL oracles reproduce it exactly."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.lower(F.regexp_replace(F.trim(c), r"\s+", " ")))


def mark_exact_duplicates(
    df: DataFrame, key_col: str, text_col: str, out_col: str = "is_exact_dup"
) -> DataFrame:
    """Keep the row with the smallest key per fingerprint group; flag the
    rest.

    groupBy-min + join back, NOT a window: partial aggregation combines
    map-side, so a fingerprint shared by millions of identical pages
    (the boilerplate mega-group) reduces to one row per map task before
    the shuffle; a window would sort the whole group on a single task.
    AQE skew-join splitting covers the join side of the hot key.

    Null text -> null fingerprint; those rows are kept with the flag
    false (a missing document is not a duplicate of another missing
    document) via a left join — an inner equi-join would silently drop
    them, since SQL equality never matches null keys.
    """
    with_fp = df.withColumn("_fp", normalized_fingerprint(text_col))
    mins = (
        with_fp.where(F.col("_fp").isNotNull())
        .groupBy("_fp")
        .agg(F.min(key_col).alias("_min_key"))
    )
    return (
        with_fp.join(mins, on="_fp", how="left")
        .withColumn(
            out_col, F.coalesce(F.col(key_col) > F.col("_min_key"), F.lit(False))
        )
        .drop("_fp", "_min_key")
    )


# ---------------------------------------------------------------------------
# minhash signatures
# ---------------------------------------------------------------------------

_PERM_CACHE: dict[int, tuple[np.ndarray, np.ndarray]] = {}


def _perm_params(num_perms: int) -> tuple[np.ndarray, np.ndarray]:
    """The first ``num_perms`` (a, b) pairs of
    functions.hashing.minhash_perm_params as int64 arrays."""
    if num_perms not in _PERM_CACHE:
        a, b = zip(*(minhash_perm_params(i) for i in range(num_perms)))
        _PERM_CACHE[num_perms] = (
            np.array(a, dtype=np.int64), np.array(b, dtype=np.int64)
        )
    return _PERM_CACHE[num_perms]


def minhash_row(hashes, num_perms: int) -> np.ndarray | None:
    """MinHash signature of one doc's shingle hashes — the production
    body of every numpy signature kernel (``make_minhash_udf`` and
    curate()'s fused perplexity+MinHash kernel). Null or empty input ->
    None (a doc with no shingles has no signature)."""
    if hashes is None or len(hashes) == 0:
        return None
    a, b = _perm_params(num_perms)
    p = np.int64(MERSENNE_61)
    # np.mod on int64 matches Spark's pmod (sign of divisor); after
    # folding to 31 bits, h*a <= 2^62 + b < 2^63: no overflow
    h = np.mod(np.mod(np.asarray(hashes, dtype=np.int64), p), np.int64(M31))
    return ((h[:, None] * a[None, :] + b[None, :]) % p).min(axis=0)


def make_minhash_udf(num_perms: int = 128, shingle_k: int = 3):
    """Scale-path signature kernel: numpy over Arrow batches.

    Input: array<bigint> of shingle hashes (computed JVM-side by
    xxhash64 so the UDF only does the permutation math — the Python
    boundary carries longs, not strings).
    Output: array<bigint> signature, empty input -> null.
    """

    @F.pandas_udf(ArrayType(LongType()))
    def _sig(hashes: pd.Series) -> pd.Series:
        return pd.Series([minhash_row(h, num_perms) for h in hashes], dtype="object")

    return _sig


def shingle_hashes_expr(text: Column | str, k: int = 3) -> Column:
    """Distinct xxhash64 hashes of word k-gram shingles (JVM-side)."""
    return F.transform(
        F.array_distinct(word_shingles(text, k)), lambda s: F.xxhash64(s)
    )


def with_minhash_signature(
    df: DataFrame,
    text_col: str = "text_extracted",
    out_col: str = "minhash_sig",
    num_perms: int = 128,
    shingle_k: int = 3,
    use_udf: bool = True,
) -> DataFrame:
    """Add array<bigint> minhash signature. use_udf=True is the numpy
    Arrow path (default; vectorized perms matrix); False composes
    built-in higher-order functions only — same values either way
    (pinned by tests)."""
    hashes = shingle_hashes_expr(text_col, shingle_k)
    if use_udf:
        sig = make_minhash_udf(num_perms, shingle_k)(hashes)
    else:
        sig = F.when(
            F.size(hashes) > 0, minhash_signature_sql(hashes, num_perms)
        )
    return df.withColumn(out_col, sig)


# ---------------------------------------------------------------------------
# LSH band marking
# ---------------------------------------------------------------------------


def band_keys_expr(sig: Column | str, bands: int, rows_per_band: int) -> Column:
    """array<bigint> of per-band bucket keys: xxhash64 of the
    ','-joined band slice (band index baked in so bands don't collide)."""
    s = F.col(sig) if isinstance(sig, str) else sig
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.xxhash64(
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(s, b * rows_per_band + 1, rows_per_band),
                    lambda x: x.cast("string"),
                ),
            ),
            b,
        ),
    )


def _pointer_jump(flags: DataFrame, key_col: str, canon_col: str) -> DataFrame:
    """One pointer-jump round on a thin (key, canon, ...) frame: every
    pointer is rewritten to its target's pointer (kept when the target
    has none); other columns ride along. One self-join of longs."""
    parent = flags.select(
        F.col(key_col).alias("_p_key"), F.col(canon_col).alias("_p_canon")
    )
    return flags.join(parent, flags[canon_col] == parent["_p_key"], "left").select(
        *[c for c in flags.columns if c != canon_col],
        F.coalesce(F.col("_p_canon"), F.col(canon_col)).alias(canon_col),
    )


def resolve_canonical_fixpoint(
    pointers: DataFrame, key_col: str, canon_col: str = "_canon_key"
) -> DataFrame:
    """Connected-components canonical resolution on a thin (key, canon)
    pointer frame: iterate pointer jumping (each round rewrites every
    pointer to its target's pointer) until NO pointer changes — the
    fixed point where every member of a duplicate-cluster component
    points at the component's true root (smallest key).

    This is the iterative half of large-star/small-star CC specialized
    to our invariant: pointers strictly decrease (canon <= key by
    construction), so every chain is a monotone path and path length
    HALVES per round — convergence in ceil(log2(longest chain)) rounds,
    each round one broadcast-or-shuffle self-join on a 2-column frame of
    longs. Each round materializes via localCheckpoint so the iteration
    never replays the (expensive) upstream LSH plan and the logical plan
    stays flat instead of doubling per round. Reference analog:
    transitive member propagation,
    /root/reference/gemProc2caom2/provenance_augmentation.py:264-302.
    """
    cur = pointers.localCheckpoint(eager=True)
    while True:
        nxt = _pointer_jump(
            cur.withColumn("_old", F.col(canon_col)), key_col, canon_col
        ).localCheckpoint(eager=True)
        changed = nxt.where(F.col(canon_col) != F.col("_old")).limit(1).count()
        cur = nxt.drop("_old")
        if changed == 0:
            return cur


def mark_lsh_duplicates(
    df: DataFrame,
    key_col: str = "url_hash",
    sig_col: str = "minhash_sig",
    bands: int = 16,
    rows_per_band: int = 8,
    out_col: str = "is_duplicate",
    canonical_col: str | None = None,
    canonical_attrs: DataFrame | None = None,
    resolve_hops: int | str = 2,
) -> DataFrame:
    """Flag docs that share any LSH band bucket with a smaller-keyed doc.

    No pairs are ever materialized: groupBy-min per (band, bucket) —
    partial aggregation runs map-side, so a boilerplate mega-bucket
    (thousands of near-identical pages sharing a band) combines before
    the shuffle instead of sorting on one task as a window would — then
    a join back onto the exploded frame (AQE splits the skewed join key)
    and a groupBy per doc key. Keeps exactly one representative (the min
    key) per near-dup cluster component discovered through shared
    buckets.

    ``canonical_col``: optionally also emit the smallest key sharing a
    bucket with this doc (the cluster representative) — the provenance
    hook: a dropped duplicate's lineage points at its canonical doc
    (members/inputs fold-back analog,
    /root/reference/gemProc2caom2/provenance_augmentation.py:240-258).

    ``canonical_attrs``: optional (key_col, attr...) frame; its attrs
    are resolved for the CANONICAL key and carried through the fold-back
    — the join lands on the small flags frame (thin columns), never a
    second join against the fat document frame.

    ``resolve_hops``: the raw per-doc canonical (min key over the doc's
    own buckets) can itself be a duplicate in a CHAINED cluster (buckets
    {A,B}, {B,C}: C's raw canonical is B, which is a duplicate of A).
    Each pointer-jump round rewrites every pointer to its target's
    pointer on the THIN (key, canon) frame — path length halves per
    round, so ``resolve_hops`` rounds resolve chains up to 2^hops long.
    Pointers strictly decrease, so the walk always terminates at a
    non-duplicate; 2 rounds (chains of 4) cover real LSH chaining, where
    long chains without shared buckets are vanishingly rare. The purely
    declarative rounds stay in one plan: the self-join branches are
    identical subtrees, so Spark reuses the exchange instead of
    recomputing. Pass ``resolve_hops="full"`` for the connected-
    components fixed point (``resolve_canonical_fixpoint``): iterate
    until no pointer changes, so arbitrarily long chains resolve to the
    true cluster root — the right setting when lineage must name the
    canonical doc of heavy-boilerplate corpora at 100-TB scale.
    """
    exploded = (
        df.select(key_col, sig_col)
        .where(F.col(sig_col).isNotNull())
        .select(
            key_col,
            F.posexplode(band_keys_expr(sig_col, bands, rows_per_band)).alias(
                "_band", "_bucket"
            ),
        )
    )
    return _fold_bucket_duplicates(
        df,
        exploded,
        key_col=key_col,
        out_col=out_col,
        canonical_col=canonical_col,
        canonical_attrs=canonical_attrs,
        resolve_hops=resolve_hops,
    )


def _fold_bucket_duplicates(
    df: DataFrame,
    exploded: DataFrame,
    key_col: str,
    out_col: str,
    canonical_col: str | None,
    canonical_attrs: DataFrame | None,
    resolve_hops: int | str,
    pair_filter=None,
) -> DataFrame:
    """Shared band-bucket fold: (key, _band, _bucket) candidate rows ->
    per-key duplicate flag + optional canonical key/attrs. The bucketed
    (never pairwise) core of both the MinHash-LSH and SimHash markers —
    groupBy-min per bucket, fold-back min per key, pointer-jump chain
    resolution. See ``mark_lsh_duplicates`` for the full scale analysis.

    ``pair_filter``: optional verification hook — receives the distinct
    (key, _bucket_min) candidate frame (at most bands rows per key) and
    returns the verified subset; used by the simhash marker's Hamming
    check. Keys left with no verified candidate resolve to non-dup via
    the final left join.
    """
    bucket_mins = exploded.groupBy("_band", "_bucket").agg(
        F.min(key_col).alias("_bucket_min")
    )
    candidates = exploded.join(bucket_mins, on=["_band", "_bucket"]).select(
        key_col, "_bucket_min"
    )
    if pair_filter is not None:
        candidates = pair_filter(candidates.distinct())
    return _fold_candidates(
        df,
        candidates,
        key_col=key_col,
        out_col=out_col,
        canonical_col=canonical_col,
        canonical_attrs=canonical_attrs,
        resolve_hops=resolve_hops,
    )


def _fold_candidates(
    df: DataFrame,
    candidates: DataFrame,
    key_col: str,
    out_col: str,
    canonical_col: str | None,
    canonical_attrs: DataFrame | None,
    resolve_hops: int | str,
) -> DataFrame:
    """Tail of the band-bucket fold, shared by every marker: fold the
    verified (key, _bucket_min) candidate frame to one canonical per
    key, run the pointer-jump chain resolution, and join the thin flags
    frame back onto ``df``. Factored out so markers that generate (and
    verify) candidates inside a bucket-group kernel — the semantic
    marker's per-bucket cosine verify — can reuse the exact fold
    semantics without re-deriving bucket minima relationally."""
    other_cols = [c for c in df.columns]
    dup_flags = candidates.groupBy(key_col).agg(
        F.min("_bucket_min").alias("_canon_key")
    )
    # Thin materialization barrier: every pointer-jump hop below
    # self-joins dup_flags, so the frame is consumed by 2^hops plan
    # branches (plus the final flags join) — without a barrier the
    # WHOLE candidate-generation subtree (band explodes, bucket-group
    # cosine kernels, Hamming verifies) is replayed once per branch
    # (emb3's round-6 plan showed the bucket kernel four times; same
    # shape in dd7/dd8 and the flagship's LSH fold). The frame is one
    # thin (key, canon) row per candidate duplicate — corpus-bounded
    # and duplicate-rate-sized — so an eager localCheckpoint costs one
    # tiny job and turns every downstream branch into a local scan.
    # Same protocol as the boilerplate-hash barrier (dd6) and the
    # fixpoint's per-round truncation — which is why the "full" path
    # skips it: resolve_canonical_fixpoint checkpoints its input first.
    if resolve_hops == "full":
        dup_flags = resolve_canonical_fixpoint(dup_flags, key_col)
    else:
        dup_flags = dup_flags.localCheckpoint(eager=True)
        for _ in range(resolve_hops):
            dup_flags = _pointer_jump(dup_flags, key_col, "_canon_key")
    is_dup = F.col("_canon_key") < F.col(key_col)
    attr_names: list[str] = []
    if canonical_attrs is not None:
        attr_names = [c for c in canonical_attrs.columns if c != key_col]
        # one row per key, deterministically (max per attr): a caller
        # with non-unique keys must not multiply rows through this join
        attrs_unique = (
            canonical_attrs.withColumnRenamed(key_col, "_canon_key")
            .groupBy("_canon_key")
            .agg(*[F.max(c).alias(c) for c in attr_names])
        )
        dup_flags = dup_flags.join(attrs_unique, on="_canon_key", how="left")
    out = [
        *other_cols,
        F.coalesce(is_dup, F.lit(False)).alias(out_col),
    ]
    if canonical_col:
        out.append(F.when(is_dup, F.col("_canon_key")).alias(canonical_col))
    out.extend(F.when(is_dup, F.col(c)).alias(c) for c in attr_names)
    return df.join(dup_flags, on=key_col, how="left").select(*out)


def select_cluster_representatives(
    marked: DataFrame,
    quality: DataFrame,
    quality_col: str,
    key_col: str = "doc_id",
    canonical_col: str = "canonical_id",
    min_cluster_size: int = 2,
) -> DataFrame:
    """Pick each near-dup cluster's KEEPER by quality instead of by id:
    the mark_*_duplicates canonical is the cluster's min key (the right
    anchor for transitive resolution), but a production dedup keeps the
    best MEMBER — FineWeb-style 'retain the highest-quality duplicate'.
    Consumes any marker output (``key_col``, ``canonical_col``) plus a
    (key, quality) frame; returns one row per member of each cluster
    with >= ``min_cluster_size`` members: (cluster_id, key, quality,
    cluster_size, is_representative) where the representative is the
    (quality DESC, key ASC) argmax — deterministic because keys are
    unique.

    Scale shape: one window per cluster_id — clusters are near-dup
    sets, typically tiny; a pathological mega-cluster (template farm)
    makes its window task the straggler, in which case compute only the
    argmax via groupBy(cluster).agg(max_by(key, struct(quality, -key)))
    + a key join back instead of ranking every member (same result for
    the representative, loses the per-member rank).
    """
    from pyspark.sql import Window

    m = marked.select(
        F.coalesce(F.col(canonical_col), F.col(key_col)).alias("cluster_id"),
        key_col,
    ).join(quality.select(key_col, quality_col), on=key_col)
    wr = Window.partitionBy("cluster_id").orderBy(
        F.col(quality_col).desc(), F.col(key_col).asc()
    )
    ws = Window.partitionBy("cluster_id")
    return (
        m.withColumn("_rk", F.row_number().over(wr))
        .withColumn("cluster_size", F.count("*").over(ws))
        .where(F.col("cluster_size") >= min_cluster_size)
        .select(
            "cluster_id",
            key_col,
            quality_col,
            "cluster_size",
            (F.col("_rk") == 1).alias("is_representative"),
        )
    )


def mark_semantic_duplicates(
    corpus: DataFrame,
    threshold: float = 0.95,
    bits: int = 6,
    tables: int = 8,
    dim: int | None = None,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_vec_col: str | None = None,
    int_exact: bool = False,
    out_col: str = "is_duplicate",
    canonical_col: str | None = "canonical_id",
    resolve_hops: int | str = 2,
) -> DataFrame:
    """Embedding near-dup MARKING — the linear-scale twin of
    ``similarity.embedding_near_dup_pairs``: instead of enumerating all
    verified pairs (quadratic in cluster size — template corpora make
    the pair list itself the cost: 2.67M candidate pairs at sf0.1 for
    ~1k true pairs), fold each hyperplane bucket to its min key and
    verify at most ``tables`` (key, bucket-min) candidates per doc with
    the exact cosine >= ``threshold`` — the same
    verify-against-bucket-min trade as ``mark_simhash_duplicates``, so
    candidate volume is ``tables * |corpus|`` REGARDLESS of cluster
    structure. This is the operator a 100-TB semantic dedup actually
    runs; the pair enumerator remains the analysis tool.

    Bucketing uses ``bucket_vec_col`` (centered vectors for TF-style
    embeddings — see embedding_near_dup_pairs); verification scores the
    raw ``vec_col``. ``int_exact`` picks the integer-exact numpy
    kernels (TF / N*v - S vectors), else the sequential-order float
    kernels — both bit-identical to the Column folds and the SQL
    oracle. Returns one row per corpus key: (key, is_duplicate,
    canonical) after ``resolve_hops`` chain resolution.
    """
    from gemproc2caom2_spark.operators.similarity import (
        _block_cosines,
        _infer_dim,
        _row_norms,
        np_bucket_udf,
        np_seq_bucket_udf,
    )

    if dim is None:
        dim = _infer_dim(corpus, vec_col)
    bucket_udf = (np_bucket_udf if int_exact else np_seq_bucket_udf)(
        bits, tables, dim
    )
    # Round-6 shape: candidates are generated AND cosine-verified inside
    # one bucket-group kernel (groupBy(bucket).applyInPandas). The
    # previous plan derived bucket minima relationally, DISTINCTed the
    # (key, min) candidates, then joined the vector column back TWICE to
    # feed a scalar cosine UDF — at sf1.0 that was 220 Exchanges (the
    # text->embedding chain replayed per join branch) for work that is
    # one pass per bucket: each group already holds every member's
    # vector AND the bucket min. Vectors cross one shuffle, once per
    # table; the kernel emits only (key, bucket_min) rows whose raw
    # cosine clears threshold - 1e-6 (a safe superset of the rounded
    # compare: rounding lifts a value by at most 5e-7), and the exact
    # round(c, 6) >= threshold filter runs on that thin survivor frame.
    cut = threshold - 1e-6

    def verify_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf[pdf["_v"].notna()]
        if len(pdf) == 0:
            return pd.DataFrame(
                {
                    key_col: pd.Series([], dtype="int64"),
                    "_bucket_min": pd.Series([], dtype="int64"),
                    "_cos": pd.Series([], dtype="float64"),
                }
            )
        ids = pdf["_id"].to_numpy(dtype=np.int64)
        m = np.asarray(pdf["_v"].tolist(), dtype=np.float64)
        mi = int(np.argmin(ids))
        norms = _row_norms(m, int_exact)
        c = _block_cosines(m[mi : mi + 1], norms[mi : mi + 1], m, norms, int_exact)[0]
        with np.errstate(invalid="ignore"):
            keep = c >= cut
        return pd.DataFrame(
            {
                key_col: ids[keep],
                "_bucket_min": np.full(int(keep.sum()), ids[mi], dtype=np.int64),
                "_cos": c[keep],
            }
        )

    exploded = corpus.select(
        F.col(key_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.explode(bucket_udf(F.col(bucket_vec_col or vec_col))).alias("_bucket"),
    )
    verified = (
        exploded.groupBy("_bucket")
        .applyInPandas(verify_fn, f"{key_col} long, _bucket_min long, _cos double")
        .where(F.round(F.col("_cos"), 6) >= threshold)
        .select(key_col, "_bucket_min")
    )
    return _fold_candidates(
        corpus.select(key_col),
        verified,
        key_col=key_col,
        out_col=out_col,
        canonical_col=canonical_col,
        canonical_attrs=None,
        resolve_hops=resolve_hops,
    )


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------


def make_simhash_udf(bits: int = 60):
    """numpy simhash over pre-hashed word arrays (array<bigint> in,
    bigint out). Bit b of the result = 1 iff the sum of ±1 votes from
    each word's bit b is >= 0. 60 bits so the value is reproducible from
    hex15 hashes in external SQL.

    Batch-vectorized (round 6): the whole Arrow batch's hash arrays are
    flattened once and per-document vote sums come from
    ``np.add.reduceat`` over segment offsets — the r5 form ran a Python
    loop per ROW with a 60-iteration bit loop per row (guide §4.2).
    Votes are exact small integers (±1 per word, sum = 2*ones - n), so
    the sign — and therefore every signature bit — is unchanged."""
    nbits = bits

    @F.pandas_udf(LongType())
    def _simhash(hashes: pd.Series) -> pd.Series:
        out: list = [None] * len(hashes)
        idx = [i for i, arr in enumerate(hashes)
               if arr is not None and len(arr) > 0]
        if idx:
            parts = [np.asarray(hashes.iloc[i], dtype=np.uint64) for i in idx]
            lens = np.array([len(x) for x in parts], dtype=np.int64)
            flat = np.concatenate(parts)
            offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
            votes_nonneg = np.empty((len(parts), nbits), dtype=bool)
            for b in range(nbits):
                ones = np.add.reduceat(
                    ((flat >> np.uint64(b)) & np.uint64(1)).astype(np.int64),
                    offs,
                )
                votes_nonneg[:, b] = 2 * ones - lens >= 0
            vals = (
                votes_nonneg.astype(np.uint64)
                * (np.uint64(1) << np.arange(nbits, dtype=np.uint64))[None, :]
            ).sum(axis=1)
            for pos, v in zip(idx, vals):
                out[pos] = int(v)
        return pd.Series(out, dtype="object")

    # expensive UDF whose output callers FILTER on (simhash is not
    # null): without this, the pushed-down filter duplicates the
    # evaluation — one ArrowEvalPython below the filter and one above
    # (guide §4.4) — and can sink the whole words->hex15->simhash chain
    # below a parallelizing repartition into the single-split scan task
    return _simhash.asNondeterministic()


def word_hex15_hashes_expr(text: Column | str) -> Column:
    """Per-word 60-bit md5 hashes (duplicates kept: simhash weights by
    term frequency)."""
    from gemproc2caom2_spark.functions.text import words

    return F.transform(
        words(F.lower(F.col(text) if isinstance(text, str) else text)), hex15_hash
    )


def with_simhash(
    df: DataFrame, text_col: str = "text_extracted", out_col: str = "simhash"
) -> DataFrame:
    return df.withColumn(out_col, make_simhash_udf()(word_hex15_hashes_expr(text_col)))


def simhash_band_keys_expr(sig: Column | str, bits: int = 60, bands: int = 6) -> Column:
    """array<bigint> of bit-slice band values of a simhash signature:
    band b = (sig >> b*w) & (2^w - 1) with w = bits // bands (bits must
    divide evenly). By pigeonhole, two signatures within Hamming
    distance <= bands - 1 agree exactly on at least one band, so
    exact-match band buckets are a complete candidate generator up to
    that tolerance — the simhash twin of the MinHash ``band_keys_expr``.
    Pure Column arithmetic (shift + mask), no UDF."""
    if bits % bands != 0:
        raise ValueError(f"bits={bits} not divisible by bands={bands}")
    s = F.col(sig) if isinstance(sig, str) else sig
    w = bits // bands
    mask = F.lit((1 << w) - 1).cast("long")
    return F.array(
        *[F.shiftright(s, b * w).bitwiseAND(mask) for b in range(bands)]
    )


def mark_simhash_duplicates(
    df: DataFrame,
    key_col: str = "url_hash",
    sig_col: str = "simhash",
    bits: int = 60,
    bands: int = 6,
    tolerance: int | None = 5,
    out_col: str = "is_duplicate",
    canonical_col: str | None = None,
    canonical_attrs: DataFrame | None = None,
    resolve_hops: int | str = 2,
) -> DataFrame:
    """SimHash near-duplicate marking — completes the simhash family
    (``with_simhash`` produces signatures; this buckets them into
    keep/drop verdicts, the reference's V4 drop-rule shape,
    /root/reference/gemProc2caom2/main_app.py:221-224).

    Two stages, neither enumerating corpus pairs:

    1. Candidate generation: the ``bits``-bit signature splits into
       ``bands`` exact-match bit-bands; by pigeonhole any pair within
       Hamming distance bands-1 shares a band, so band buckets are a
       COMPLETE candidate generator up to that radius. groupBy-min per
       (band, bucket) with map-side combine, min fold-back per key —
       bands x |corpus| thin long rows, same shape as MinHash-LSH.
    2. Hamming verification (``tolerance``, the Manku/Google simhash
       protocol): simhash bits are biased by common-language words, so
       band buckets over web text collide far beyond true near-dups
       (measured: 10-bit bands mark 97% of an English corpus). Each
       (key, bucket-min) candidate — at most ``bands`` per doc, never a
       pairwise blowup — is checked with bit_count(xor) <= tolerance
       against the candidate canonical before the fold; pure JVM bit
       arithmetic. Pass ``tolerance=None`` to skip (band-approximate
       marking, stated radius bands-1).

    Then ``resolve_hops`` pointer-jump rounds (or ``"full"`` for the
    connected-components fixed point) resolve chained clusters; each
    verified hop is within ``tolerance``, so a cluster member is within
    tolerance x chain-length of its root (standard transitive-closure
    semantics of near-dup clustering). Recall note: verification is
    against the bucket MIN only — two far-from-min members of one
    bucket that are mutually close are caught only via their own
    buckets — the deliberate no-pairs trade every production simhash
    dedup makes.
    """
    exploded = (
        df.select(key_col, sig_col)
        .where(F.col(sig_col).isNotNull())
        .select(
            key_col,
            F.posexplode(simhash_band_keys_expr(sig_col, bits, bands)).alias(
                "_band", "_bucket"
            ),
        )
    )
    pair_filter = None
    if tolerance is not None:
        sigs = df.select(key_col, sig_col).where(F.col(sig_col).isNotNull())

        def pair_filter(cand: DataFrame) -> DataFrame:
            a = sigs.select(
                F.col(key_col), F.col(sig_col).alias("_sig_a")
            )
            m = sigs.select(
                F.col(key_col).alias("_bucket_min"),
                F.col(sig_col).alias("_sig_m"),
            )
            return (
                cand.join(a, on=key_col)
                .join(m, on="_bucket_min")
                .where(
                    F.bit_count(
                        F.col("_sig_a").bitwiseXOR(F.col("_sig_m"))
                    )
                    <= tolerance
                )
                .select(key_col, "_bucket_min")
            )

    return _fold_bucket_duplicates(
        df,
        exploded,
        key_col=key_col,
        out_col=out_col,
        canonical_col=canonical_col,
        canonical_attrs=canonical_attrs,
        resolve_hops=resolve_hops,
        pair_filter=pair_filter,
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard pairs
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    key_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int = 256,
) -> DataFrame:
    """Near-duplicate pairs by exact word-k-gram Jaccard similarity.

    Plan shape (two shuffles, no self-join, no recompute):

    1. one shingling pass: per doc, distinct shingle HASHES (xxhash64 —
       8-byte longs cross the shuffle, never the shingle strings) with
       the doc's shingle count carried inline, then explode;
    2. groupBy shingle hash into buckets; drop buckets larger than
       ``max_doc_freq`` (stop-shingle cap: the never-a-cartesian rule —
       a shingle shared by hundreds of docs is corpus boilerplate, not
       near-dup evidence). The cap also bounds step 3's in-row pair
       array at max_doc_freq^2/2 structs (~0.5 MB at the 256 default;
       1000 would make a single 8 MB row);
    3. emit ordered (key1 < key2) pairs per bucket JVM-side from the
       sorted member array — bucket size is capped, so the per-row pair
       array is bounded by max_doc_freq^2/2;
    4. groupBy pair -> intersection counts; sizes ride along as grouping
       keys, so no join back against a sizes frame.

    Returns (key1, key2, jaccard) with jaccard >= threshold.
    """
    hashes = F.array_distinct(
        F.transform(F.array_distinct(word_shingles(text_col, k)), lambda s: F.xxhash64(s))
    )
    # no size()>0 pre-filter: explode already emits nothing for empty or
    # null arrays, and the deterministic predicate was PUSHED below the
    # caller's parallelizing repartition — the whole shingle+xxhash chain
    # evaluated serially inside the single-split scan task (the dd2
    # filter-pushdown trap; measured as the query's dominant cost)
    exploded = df.select(F.col(key_col).alias("_k"), hashes.alias("_hs")).select(
        "_k", F.size("_hs").alias("_n"), F.explode("_hs").alias("_h")
    )
    buckets = (
        exploded.groupBy("_h")
        .agg(F.collect_list(F.struct("_k", "_n")).alias("_m"))
        .where((F.size("_m") >= 2) & (F.size("_m") <= max_doc_freq))
    )
    ms = F.array_sort("_m")  # struct sort = by _k: ordered pairs for free
    pair_arrays = F.flatten(
        F.transform(
            ms,
            lambda x, i: F.transform(
                F.slice(ms, i + F.lit(2), F.greatest(F.size(ms) - i - 1, F.lit(0))),
                lambda y: F.struct(
                    x["_k"].alias("key1"),
                    x["_n"].alias("_n1"),
                    y["_k"].alias("key2"),
                    y["_n"].alias("_n2"),
                ),
            ),
        )
    )
    pairs = buckets.select(F.explode(pair_arrays).alias("p")).select("p.*")
    counts = pairs.groupBy("key1", "_n1", "key2", "_n2").agg(
        F.count("*").alias("_inter")
    )
    return (
        counts.withColumn(
            "jaccard", F.col("_inter") / (F.col("_n1") + F.col("_n2") - F.col("_inter"))
        )
        .where(F.col("jaccard") >= threshold)
        .select("key1", "key2", F.round("jaccard", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# corpus-level boilerplate-line removal (CCNet/RefinedWeb line dedup)
# ---------------------------------------------------------------------------


def remove_boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 2,
    out_col: str = "clean_text",
) -> DataFrame:
    """Remove lines that repeat ACROSS the corpus: a trimmed non-empty
    line appearing in >= ``min_df`` distinct documents is boilerplate
    (nav bars, cookie banners, footers) and is dropped from every doc —
    the cross-document counterpart of the within-doc repeated_line_frac
    gate (CCNet/RefinedWeb-style line dedup). Reference analog: the
    shared-calibration-chunk suppression, main_app.py:221-224.

    Output: (id_col, out_col) — the doc rebuilt from its surviving
    lines in original order, joined with newlines; a doc whose lines
    are ALL boilerplate (or that had no non-empty lines) yields ''.
    Line semantics are functions.text.lines (trimmed, empties dropped),
    so the rebuilt text is normalized to that form.

    Scale shape, two passes over the exploded lines:
    1. line -> distinct-doc frequency, keyed on the 60-bit line hash
       (strings never shuffle); Catalyst's two-phase count_distinct
       pre-distincts (hash, doc) map-side, bounding the hot-line skew.
    2. posexplode + anti-join against the boilerplate hash set (a thin
       frame — broadcast when small, AQE otherwise) + ordered fold-back
       per doc (groupBy collect of (pos, line) structs, sorted — bounded
       by lines-per-doc, never corpus-wide).
    """
    from gemproc2caom2_spark.functions.hashing import hex15_hash
    from gemproc2caom2_spark.functions.text import lines as lines_expr

    base = df.where(F.col(text_col).isNotNull()).select(id_col, text_col)
    ln = base.select(
        F.col(id_col),
        F.posexplode(lines_expr(F.col(text_col))).alias("_pos", "_line"),
    ).withColumn("_lh", hex15_hash("_line"))
    # The plan forks on ln (boilerplate aggregate + anti-join probe
    # side). The fork barrier is the THIN side: eagerly materialize the
    # boilerplate hash SET via localCheckpoint — bounded by the number
    # of distinct repeated lines, not by the corpus — and let the probe
    # side re-run the scan+explode once more. Two scans beat a
    # corpus-sized MEMORY_AND_DISK cache at 100 TB, and localCheckpoint
    # blocks are released by the context cleaner when the frame is
    # GC'd, so long-lived sessions can't accumulate caches (the r4
    # lifecycle leak: the dd6 query never called the unpersist hook).
    boiler = (
        ln.groupBy("_lh")
        .agg(F.count_distinct(id_col).alias("_df"))
        .where(F.col("_df") >= min_df)
        .select("_lh")
        .localCheckpoint(eager=True)
    )
    rebuilt = (
        ln.join(boiler, on="_lh", how="left_anti")
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                    lambda x: x["_line"],
                ),
                "\n",
            ).alias(out_col)
        )
    )
    out = base.select(id_col).join(rebuilt, on=id_col, how="left").select(
        id_col, F.coalesce(F.col(out_col), F.lit("")).alias(out_col)
    )
    return out


def mark_span_overlap(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Exact k-token-span overlap marking — the span-level dedup family
    (dedup-training-data style: two documents sharing ANY verbatim
    k-token span are near-copies even when their MinHash/Jaccard
    similarity is low, e.g. a paragraph quoted into an otherwise new
    page). Distinct from the three existing families: MinHash/LSH
    (whole-doc similarity), boilerplate lines (exact line corpus df),
    n-gram Jaccard (sampled-shingle ratio). Reference analog: the V4
    keep=false drop rule applied per offending artifact
    (/root/reference/gemProc2caom2/main_app.py:221-224).

    Per document: ``n_spans`` (token_count - k + 1 sliding positions;
    documents shorter than k tokens produce no row), ``n_shared``
    (positions whose span hash occurs in >= 2 DISTINCT documents),
    ``span_flagged`` (any shared span).
    Span hashes are hex15 of the space-joined token window, so the SQL
    oracle reproduces them bit-for-bit.

    Scale shape: the span explode is corpus_tokens rows of thin
    (id, hash) longs-after-hash; the shared-span set comes from ONE
    map-side-combined groupBy over span hashes with a two-phase
    count_distinct bounding hot spans (the boilerplate-line shape,
    remove_boilerplate_lines above); the per-doc fold-back is a second
    groupBy on the doc id. No pair enumeration anywhere — a span
    shared by S documents costs S rows, never S^2.

    The span explode is deliberately computed twice (once to build the
    shared set, once on the probe side) instead of persisting it: the
    exploded frame is corpus_tokens rows — a corpus-sized cache at
    100 TB — while the recompute is one extra scan + hash pass, the
    same two-scans-over-cache trade frequency_resample documents.
    """
    from gemproc2caom2_spark.functions.hashing import hex15_hash

    t = F.trim(F.lower(F.col(text_col)))
    base = df.where(F.col(text_col).isNotNull() & (t != "")).select(
        F.col(id_col), F.split(t, r"\s+").alias("_toks")
    )
    n = F.size("_toks")
    spans = base.select(
        id_col,
        F.explode(
            F.when(
                n >= k,
                F.transform(
                    F.sequence(F.lit(1), n - (k - 1)),
                    lambda i: hex15_hash(
                        F.concat_ws(" ", F.slice("_toks", i, k))
                    ),
                ),
            ).otherwise(F.array().cast("array<bigint>")),
        ).alias("_sh"),
    )
    shared = (
        spans.groupBy("_sh")
        .agg(F.count_distinct(id_col).alias("_docs"))
        .where(F.col("_docs") >= 2)
        .select("_sh")
    )
    marked = spans.join(shared.withColumn("_is_shared", F.lit(1)), on="_sh", how="left")
    per_doc = marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.coalesce(F.col("_is_shared"), F.lit(0))).cast("bigint").alias("n_shared"),
    )
    return per_doc.withColumn("span_flagged", F.col("n_shared") > 0)
