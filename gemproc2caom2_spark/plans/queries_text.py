"""Training-data-pipeline queries: dedup, similarity, text analysis,
multimodal plumbing, and the curation verdict — with SQL oracles where
the semantics are SQL-expressible (hex15 keeps hashes cross-engine).

Registered into the same registry as plans.queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gemproc2caom2_spark.functions.hashing import (
    M31,
    MERSENNE_61,
    hex15_hash,
    hex15_hash_sql,
    minhash_perm_params,
    minhash_signature_sql,
)
from gemproc2caom2_spark.functions.langid import langid_expr, langid_sql
from gemproc2caom2_spark.functions.scrub import scrub_expr, scrub_sql
from gemproc2caom2_spark.functions import text as TX
from gemproc2caom2_spark.operators.dedup import ngram_jaccard_pairs, normalized_fingerprint
from gemproc2caom2_spark.operators.heuristics import (
    ANALYSIS_CAP,
    DEFAULT_RULES,
    LANGID_CAP,
    RuleConfig,
    quality_sql,
    quality_struct,
)
from gemproc2caom2_spark.operators.multimodal import decode_media_features
from gemproc2caom2_spark.operators.similarity import brute_force_topk, lsh_ann_topk
from gemproc2caom2_spark.operators.verdict import (
    cheap_drop_reason,
    cheap_drop_reason_sql,
    drop_reason_sql,
)
from gemproc2caom2_spark.plans.queries import load, register

# ---------------------------------------------------------------------------
# SQL snippets shared by several oracles
# ---------------------------------------------------------------------------

# whitespace words of lower(text), DuckDB side (trim strips spaces only,
# matching Spark F.trim semantics)
_SQL_WORDS = "regexp_split_to_array(trim(lower(text)), '\\s+')"

# oracle fixture paths — repo-relative, not hardcoded: this module lives
# at <repo>/gemproc2caom2_spark/plans/, fixtures at <repo>/tests/fixtures/
import os as _os

_REPO_ROOT = _os.path.dirname(
    _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
)
_FIXTURE_DIR = _os.path.join(_REPO_ROOT, "tests", "fixtures")
_PPL_FIXTURE = _os.path.join(_FIXTURE_DIR, "perplexity_oracle.parquet")
_MM_FIXTURE = _os.path.join(_FIXTURE_DIR, "media_features.parquet")
_FRAMES_FIXTURE = _os.path.join(_FIXTURE_DIR, "media_frames.parquet")
_RESIZE_FIXTURE = _os.path.join(_FIXTURE_DIR, "media_resize.parquet")
_DUP_FIXTURE = _os.path.join(_FIXTURE_DIR, "lsh_duplicates.parquet")
_IVF_FIXTURE = _os.path.join(_FIXTURE_DIR, "ivf_centers.parquet")
_QLR_FIXTURE = _os.path.join(_FIXTURE_DIR, "quality_lr_weights.parquet")
_BPE_FIXTURE = _os.path.join(_FIXTURE_DIR, "bpe_merges.parquet")
_BPE_ENCODE_FIXTURE = _os.path.join(_FIXTURE_DIR, "bpe_encoded.parquet")
_ZRATIO_FIXTURE = _os.path.join(_FIXTURE_DIR, "compression_ratio.parquet")


# ===========================================================================
# deduplication
# ===========================================================================


@register(
    "dd1_exact_dedup",
    """
    WITH fp AS (
      SELECT doc_id,
             md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint
      FROM documents)
    SELECT fingerprint,
           count(*)::BIGINT AS n_docs,
           min(doc_id) AS canonical_id
    FROM fp GROUP BY fingerprint HAVING count(*) > 1
    """,
)
def dd1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 fingerprint of normalized text, keep min doc_id
    as canonical. One shuffle."""
    d = load(spark, sf_dir, "documents", spread=True)
    return (
        d.select("doc_id", normalized_fingerprint("text").alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("canonical_id"))
        .where(F.col("n_docs") > 1)
    )


def _minhash16_sql_expr() -> str:
    """DuckDB rendering of the 16-perm minhash over 2-word shingles."""
    shingle_hash = hex15_hash_sql("s")
    mins = []
    for i in range(16):
        a, b = minhash_perm_params(i)
        mins.append(
            f"list_min(list_transform(hs, h -> ((h % {MERSENNE_61}) % {M31} * {a} + {b}) % {MERSENNE_61}))"
        )
    return (
        "list_transform(["
        + ", ".join(mins)
        + "], x -> x::VARCHAR)"
    ), shingle_hash


_MINS, _SH = _minhash16_sql_expr()

@register(
    "dd2_minhash_signature",
    f"""
    WITH w AS (
      SELECT doc_id, {_SQL_WORDS} AS ws FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(ws) - 1, 0) + 1),
               i -> ws[i] || ' ' || ws[i + 1])) AS shingles
      FROM w),
    hs AS (
      SELECT doc_id,
             list_transform(shingles, s -> {_SH}) AS hs
      FROM sh WHERE len(shingles) > 0)
    SELECT doc_id, array_to_string({_MINS}, ',') AS minhash_csv
    FROM hs
    """,
)
def dd2_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (16 perms, 2-word shingles) over the
    cross-engine hex15 hash — the oracle-checkable twin of the
    xxhash64/numpy scale path used by the pipeline (operators/dedup.py).

    Shingling + hex15 hashing stay JVM-side (codegen'd md5/conv); the
    16 permutation passes move to one vectorized Arrow kernel — the r5
    Column form ran 16 INTERPRETED transform+array_min passes over every
    hash array (~120M lambda evaluations at sf1.0; guide §4.2).

    The empty-shingle filter runs on the KERNEL's null output (empty or
    null hash array -> null csv), with the UDF marked non-deterministic:
    the r5 ``where(size(hs) > 0)`` predicate was pushed below the spread
    repartition, so the whole shingle+md5 chain evaluated INSIDE the
    single-split scan task — serially — and then again in the post-
    shuffle project (measured: the filter alone turned a 0.7 s map
    stage into 8 s; guide §4.4's duplicated-evaluation trap, on a
    filter pushed below the parallelizing exchange).

    Bit-exactness: the kernel body is the pipeline's ``minhash_row``;
    every hash is non-negative (hex15 < 2^60 < M61), so its np.mod
    equals the oracle's % and the mins are integer-identical;
    str(int64) equals the bigint->string cast; null-for-empty equals
    the old size filter exactly (size(null) is null, never > 0)."""
    import pandas as _pd

    from gemproc2caom2_spark.operators.dedup import minhash_row

    d = load(spark, sf_dir, "documents", spread=True)
    shingles = TX.word_shingles(F.lower(F.col("text")), k=2)
    hashes = F.transform(F.array_distinct(shingles), hex15_hash)

    # no type hints: under `from __future__ import annotations` they
    # become strings pyspark's hint parser can't resolve against this
    # closure; hint-less defaults to the scalar pandas UDF, same thing
    def _minhash_csv_fn(hs):
        sigs = (minhash_row(arr, 16) for arr in hs)
        return _pd.Series(
            [None if sig is None else ",".join(map(str, sig.tolist())) for sig in sigs],
            dtype="object",
        )

    _minhash_csv = F.pandas_udf(_minhash_csv_fn, "string").asNondeterministic()

    return (
        d.select("doc_id", _minhash_csv(hashes).alias("minhash_csv"))
        .where(F.col("minhash_csv").isNotNull())
    )


@register(
    "dd3_simhash",
    f"""
    WITH w AS (
      SELECT doc_id, unnest({_SQL_WORDS}) AS word FROM documents),
    h AS (
      SELECT doc_id, {hex15_hash_sql("word")} AS hw FROM w),
    votes AS (
      SELECT doc_id, b,
             sum(CASE WHEN (hw >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM h CROSS JOIN range(16) t(b) GROUP BY doc_id, b)
    SELECT doc_id,
           sum(CASE WHEN v >= 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash16
    FROM votes GROUP BY doc_id
    """,
)
def dd3_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (16-bit relational form): per-word hex15 hash, ±1 votes
    per bit, majority -> bit set. Term frequency weights (duplicates
    kept). The 60-bit numpy UDF twin is operators.dedup.with_simhash."""
    d = load(spark, sf_dir, "documents", spread=True)
    ws = TX.words(F.lower(F.col("text")))
    exploded = d.select("doc_id", F.explode(ws).alias("word")).select(
        "doc_id", hex15_hash("word").alias("hw")
    )
    bits = spark.range(16).select(F.col("id").cast("int").alias("b"))
    votes = (
        exploded.crossJoin(F.broadcast(bits))
        .groupBy("doc_id", "b")
        .agg(
            # python shiftright() wants an int literal; column-shift via SQL expr
            F.sum(
                F.when(F.expr("(hw >> b) & 1") == 1, 1).otherwise(-1)
            ).alias("v")
        )
    )
    return votes.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("v") >= 0, F.expr("shiftleft(cast(1 as bigint), b)"))
            .otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("simhash16")
    )


@register(
    "dd4_ngram_jaccard_pairs",
    f"""
    WITH sh AS (
      SELECT doc_id AS _k,
             unnest(list_distinct(list_transform(
               range(1, greatest(len({_SQL_WORDS}) - 1, 0) + 1),
               i -> {_SQL_WORDS}[i] || ' ' || {_SQL_WORDS}[i + 1]))) AS _s
      FROM documents),
    sizes AS (SELECT _k, count(*) AS _n FROM sh GROUP BY _k),
    freq AS (SELECT _s FROM sh GROUP BY _s HAVING count(*) <= 256),
    shc AS (SELECT sh._k, sh._s FROM sh JOIN freq USING (_s)),
    pairs AS (
      SELECT a._k AS key1, b._k AS key2, count(*) AS _inter
      FROM shc a JOIN shc b USING (_s) WHERE a._k < b._k
      GROUP BY a._k, b._k)
    SELECT key1, key2,
           round(_inter / (s1._n + s2._n - _inter), 6) AS jaccard
    FROM pairs
    JOIN sizes s1 ON s1._k = key1
    JOIN sizes s2 ON s2._k = key2
    WHERE _inter / (s1._n + s2._n - _inter) >= 0.2
    """,
)
def dd4_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact 2-gram Jaccard >= 0.2, shingle-frequency
    capped (never a cartesian; operators/dedup.ngram_jaccard_pairs).

    Cap = 256: a shingle shared by hundreds of documents is corpus
    boilerplate, not near-duplication evidence, and every bucket of
    size B emits B^2/2 candidate pairs — at cap 1000 this one query was
    ~18% of the whole bench suite for pairs that Jaccard then filters
    out anyway."""
    d = load(spark, sf_dir, "documents", spread=True).select(
        "doc_id", F.lower(F.col("text")).alias("text")
    )
    return ngram_jaccard_pairs(
        d, key_col="doc_id", text_col="text", k=2, threshold=0.2, max_doc_freq=256
    )


# shared by dd7 (the marker itself) and dd8 (representative selection
# over the marker's clusters)
_DD7_SQL = f"""
    WITH w AS (
      SELECT doc_id, unnest({_SQL_WORDS}) AS word FROM documents),
    h AS (
      SELECT doc_id, {hex15_hash_sql("word")} AS hw FROM w),
    votes AS (
      SELECT doc_id, b,
             sum(CASE WHEN (hw >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM h CROSS JOIN range(60) t(b) GROUP BY doc_id, b),
    sh AS (
      SELECT doc_id,
             sum(CASE WHEN v >= 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
      FROM votes GROUP BY doc_id),
    ex AS (
      SELECT doc_id, b, (simhash >> (b * 10)) & 1023 AS bucket
      FROM sh CROSS JOIN range(6) t(b)),
    bm AS (SELECT b, bucket, min(doc_id) AS bmin FROM ex GROUP BY b, bucket),
    cand AS (
      SELECT DISTINCT ex.doc_id, bm.bmin
      FROM ex JOIN bm USING (b, bucket)),
    ver AS (
      SELECT c.doc_id, c.bmin
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_id
      JOIN sh m ON m.doc_id = c.bmin
      WHERE bit_count(xor(a.simhash, m.simhash)) <= 5),
    c0 AS (SELECT doc_id, min(bmin) AS canon FROM ver GROUP BY doc_id),
    c1 AS (
      SELECT a.doc_id, coalesce(p.canon, a.canon) AS canon
      FROM c0 a LEFT JOIN c0 p ON a.canon = p.doc_id),
    c2 AS (
      SELECT a.doc_id, coalesce(p.canon, a.canon) AS canon
      FROM c1 a LEFT JOIN c1 p ON a.canon = p.doc_id)
    SELECT sh.doc_id, sh.simhash,
           coalesce(c2.canon < sh.doc_id, FALSE) AS is_duplicate,
           CASE WHEN c2.canon < sh.doc_id THEN c2.canon END AS canonical_id
    FROM sh LEFT JOIN c2 USING (doc_id)
    """


@register("dd7_simhash_near_dup", _DD7_SQL)
def dd7_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup MARKING — the third dedup family completed from
    signature to keep/drop verdict. The signature is the PRODUCTION
    numpy/Arrow 60-bit simhash UDF (operators.dedup.with_simhash) over
    per-word hex15 hashes, which the oracle rebuilds relationally in
    DuckDB (±1 votes per bit, majority): the actual scale-path kernel is
    oracle-checked, not a SQL-only twin. Bucketing: 6 exact-match
    10-bit bands (pigeonhole ⇒ complete for Hamming ≤ 5), groupBy-min
    per bucket, 2 pointer-jump rounds for chained clusters."""
    from gemproc2caom2_spark.operators.dedup import (
        mark_simhash_duplicates,
        with_simhash,
    )

    d = load(spark, sf_dir, "documents", spread=True)
    # thin (doc_id, simhash) barrier: the marker references the sigs
    # frame from four plan branches (band explode, both Hamming-verify
    # sides, final flags join); without it the words->hex15->simhash
    # UDF chain replays per branch (r5 plan: 94 Exchanges)
    sigs = with_simhash(
        d.select("doc_id", "text"), text_col="text", out_col="simhash"
    ).where(F.col("simhash").isNotNull()).select("doc_id", "simhash") \
        .localCheckpoint(eager=True)
    return mark_simhash_duplicates(
        sigs,
        key_col="doc_id",
        sig_col="simhash",
        bits=60,
        bands=6,
        canonical_col="canonical_id",
        resolve_hops=2,
    )


@register(
    "dd8_cluster_representatives",
    f"""
    WITH marked AS ({_DD7_SQL}),
    m AS (
      SELECT coalesce(marked.canonical_id, marked.doc_id) AS cluster_id,
             marked.doc_id, d.n_chars
      FROM marked JOIN documents d USING (doc_id)),
    r AS (
      SELECT cluster_id, doc_id, n_chars,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY n_chars DESC, doc_id ASC) AS rk,
             count(*) OVER (PARTITION BY cluster_id) AS cluster_size
      FROM m)
    SELECT cluster_id, doc_id, n_chars, cluster_size::BIGINT AS cluster_size,
           (rk = 1) AS is_representative
    FROM r WHERE cluster_size >= 2
    """,
)
def dd8_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection: within each simhash near-dup
    cluster keep the LONGEST member (n_chars desc, doc_id tie-break)
    instead of the min-id anchor — the FineWeb 'retain the best
    duplicate' policy, composed from the dd7 marker +
    select_cluster_representatives (operators/dedup.py). The oracle
    wraps the full dd7 SQL, so the entire signature->bands->Hamming->
    cluster->argmax chain is cross-engine checked."""
    from gemproc2caom2_spark.operators.dedup import (
        mark_simhash_duplicates,
        select_cluster_representatives,
        with_simhash,
    )

    d = load(spark, sf_dir, "documents", spread=True)
    # same thin sigs barrier as dd7 (the marker is a multi-branch plan)
    sigs = with_simhash(
        d.select("doc_id", "text"), text_col="text", out_col="simhash"
    ).where(F.col("simhash").isNotNull()).select("doc_id", "simhash") \
        .localCheckpoint(eager=True)
    marked = mark_simhash_duplicates(
        sigs,
        key_col="doc_id",
        sig_col="simhash",
        bits=60,
        bands=6,
        canonical_col="canonical_id",
        resolve_hops=2,
    )
    return select_cluster_representatives(
        marked,
        quality=d.select("doc_id", "n_chars"),
        quality_col="n_chars",
        key_col="doc_id",
        canonical_col="canonical_id",
    )


# ===========================================================================
# similarity search
# ===========================================================================

_DOT = "list_sum(list_transform(range(1, len(c.embedding) + 1), i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))"
_NQ = "sqrt(list_sum(list_transform(range(1, len(q.embedding) + 1), i -> q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE)))"
_NC = "sqrt(list_sum(list_transform(range(1, len(c.embedding) + 1), i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)))"


@register(
    "sim1_cosine_topk",
    f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id,
             round({_DOT} / ({_NQ} * {_NC}), 6) AS cosine
      FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
      WHERE q.vec_id IN (0, 1, 2)),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id ASC) AS rank
      FROM scored)
    SELECT query_id, vec_id, cosine, rank::BIGINT AS rank FROM ranked WHERE rank <= 5
    """,
)
def sim1_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 3 query vectors: broadcast query
    side, JVM zip_with/aggregate dot products, window rank."""
    emb = load(spark, sf_dir, "embeddings", spread=True)
    # query side from the unspread load (pushed-filter 3-row scan) —
    # see sim2: the spread frame would shuffle the whole corpus to
    # build the broadcast side
    q = load(spark, sf_dir, "embeddings").where(F.col("vec_id").isin(0, 1, 2))
    out = brute_force_topk(emb, q, k=5, id_col="vec_id", vec_col="embedding")
    return out.withColumn("rank", F.col("rank").cast("bigint"))


def _ann_oracle_sql(bits: int = 4, tables: int = 8, dim: int = 64,
                    k: int = 5) -> str:
    """DuckDB rendering of the full hyperplane-LSH ANN: the ±1 plane
    weights are the SAME build-time constants the Spark plan inlines
    (operators.similarity.plane_weights), so bucket ids — and therefore
    the candidate sets — agree exactly across engines."""
    from gemproc2caom2_spark.operators.similarity import plane_weights

    def bucket_list() -> str:
        outs = []
        for t in range(tables):
            ws = plane_weights(bits, t, dim)
            terms = []
            for i in range(bits):
                arr = "[" + ",".join(
                    "1.0" if w > 0 else "-1.0" for w in ws[i]
                ) + "]"
                dot = (
                    f"list_sum(list_transform(range(1, {dim + 1}), "
                    f"j -> e.embedding[j]::DOUBLE * ({arr})[j]))"
                )
                terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << i} ELSE 0 END)")
            outs.append("(" + " + ".join(terms) + f" + {t << 60})")
        return "[" + ", ".join(outs) + "]"

    b = bucket_list()
    return f"""
    WITH cb AS (
      SELECT e.vec_id, unnest({b}) AS bucket FROM embeddings e),
    qb AS (
      SELECT e.vec_id AS query_id, unnest({b}) AS bucket
      FROM embeddings e WHERE e.vec_id IN (0, 1, 2)),
    cand AS (
      SELECT DISTINCT qb.query_id, cb.vec_id
      FROM cb JOIN qb USING (bucket) WHERE cb.vec_id <> qb.query_id),
    scored AS (
      SELECT cand.query_id, cand.vec_id,
             round({_DOT} / ({_NQ} * {_NC}), 6) AS cosine
      FROM cand
      JOIN embeddings q ON q.vec_id = cand.query_id
      JOIN embeddings c ON c.vec_id = cand.vec_id),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id ASC) AS rank
      FROM scored)
    SELECT query_id, vec_id, cosine, rank::BIGINT AS rank
    FROM ranked WHERE rank <= {k}
    """


def _near_dup_oracle_sql(threshold: float = 0.4, bits: int = 4,
                         tables: int = 8, dim: int = 64,
                         src: str = "embeddings", prelude: str = "",
                         bucket_src: str | None = None,
                         bucket_vec: str = "embedding") -> str:
    """DuckDB rendering of embedding_near_dup_pairs (same literal plane
    weights => identical candidate sets => exact parity). ``src`` names
    the (vec_id, embedding) relation; ``prelude`` optionally injects
    CTEs defining it (the text->embedding path, emb2); ``bucket_src``/
    ``bucket_vec`` name the relation/column used for BUCKETING only
    (the centered-vector variant)."""
    from gemproc2caom2_spark.operators.similarity import plane_weights

    outs = []
    for t in range(tables):
        ws = plane_weights(bits, t, dim)
        terms = []
        for i in range(bits):
            arr = "[" + ",".join("1.0" if w > 0 else "-1.0" for w in ws[i]) + "]"
            dot = (
                f"list_sum(list_transform(range(1, {dim + 1}), "
                f"j -> e.{bucket_vec}[j]::DOUBLE * ({arr})[j]))"
            )
            terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << i} ELSE 0 END)")
        outs.append("(" + " + ".join(terms) + f" + {t << 60})")
    b = "[" + ", ".join(outs) + "]"
    dot_qc = "list_sum(list_transform(range(1, len(q.embedding) + 1), i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))"
    return f"""
    WITH {prelude + ("," if prelude else "")} cb AS (
      SELECT e.vec_id, unnest({b}) AS bucket FROM {bucket_src or src} e),
    cand AS (
      SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
      FROM cb a JOIN cb b USING (bucket) WHERE a.vec_id < b.vec_id),
    scored AS (
      SELECT cand.id1, cand.id2,
             round({dot_qc} / ({_NQ} * {_NC}), 6) AS cosine
      FROM cand
      JOIN {src} q ON q.vec_id = cand.id1
      JOIN {src} c ON c.vec_id = cand.id2)
    SELECT id1, id2, cosine FROM scored WHERE cosine >= {threshold}
    """


@register("dd5_embedding_near_dup", _near_dup_oracle_sql(bits=6))
def dd5_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (semantic dedup): hyperplane
    bucket candidates -> exact cosine >= threshold. The 0.4 threshold is
    tuned to this synthetic table's cosine range (max ~0.51) so the
    result set is non-trivial; production near-dup runs at ~0.9+.
    bits=6: 64 cells bounds candidate pairs at |C|^2*tables/2^bits/2
    (16 cells at sf0.1's 2000 vectors meant ~1M exact cosines — 4x the
    bits cuts that 4x at the standard bits-vs-recall cost)."""
    from gemproc2caom2_spark.operators.similarity import embedding_near_dup_pairs

    emb = load(spark, sf_dir, "embeddings", spread=True)
    return embedding_near_dup_pairs(emb, threshold=0.4, bits=6, tables=8, dim=64)


@register("sim2_ann_lsh", _ann_oracle_sql())
def sim2_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (scale path): hyperplane sign buckets, equi-join
    instead of cross-join. Fully oracle-checked: the plane weights are
    build-time literals shared with the SQL rendering. Recall vs sim1 is
    additionally asserted in tests/test_similarity.py."""
    emb = load(spark, sf_dir, "embeddings", spread=True)
    # the 3-row query side comes from the UNSPREAD load: deriving it
    # from the spread frame made its (broadcast-build) job pay a full
    # repartition shuffle of the corpus just to fetch 3 rows — at scale
    # a whole-corpus shuffle per tiny-side build. A pushed-filter scan
    # returns the identical rows.
    q = load(spark, sf_dir, "embeddings").where(F.col("vec_id").isin(0, 1, 2))
    out = lsh_ann_topk(
        emb, q, k=5, bits=4, id_col="vec_id", vec_col="embedding", dim=64
    )
    return out.withColumn("rank", F.col("rank").cast("bigint"))


def _ivf_oracle_sql(k: int = 5, n_centroids: int = 16, n_probe: int = 4) -> str:
    """DuckDB rendering of ivf_topk with the deterministic seeded
    centroids (vec_id < n_centroids): assignment and probing re-derive
    the exact same argmax (ORDER BY cos DESC, cid ASC == Spark's
    array_max over (cos, -cid) structs)."""
    cos_ec = (
        "list_sum(list_transform(range(1, len(e.embedding) + 1), "
        "i -> e.embedding[i]::DOUBLE * cent.cvec[i]::DOUBLE)) / "
        "(sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1), "
        "i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))) * "
        "sqrt(list_sum(list_transform(range(1, len(cent.cvec) + 1), "
        "i -> cent.cvec[i]::DOUBLE * cent.cvec[i]::DOUBLE))))"
    )
    return f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding AS cvec FROM embeddings
      WHERE vec_id < {n_centroids}),
    sc AS (
      SELECT e.vec_id, cent.cid, {cos_ec} AS c
      FROM embeddings e CROSS JOIN cent),
    asg AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY c DESC, cid ASC) AS rn
        FROM sc) WHERE rn = 1),
    probe AS (
      SELECT vec_id AS query_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY c DESC, cid ASC) AS rn
        FROM sc WHERE vec_id IN (0, 1, 2)) WHERE rn <= {n_probe}),
    cand AS (
      SELECT probe.query_id, asg.vec_id
      FROM probe JOIN asg ON asg.cid = probe.cid
      WHERE asg.vec_id <> probe.query_id),
    scored AS (
      SELECT cand.query_id, cand.vec_id,
             round({_DOT} / ({_NQ} * {_NC}), 6) AS cosine
      FROM cand
      JOIN embeddings q ON q.vec_id = cand.query_id
      JOIN embeddings c ON c.vec_id = cand.vec_id),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id ASC) AS rank
      FROM scored)
    SELECT query_id, vec_id, cosine, rank::BIGINT AS rank
    FROM ranked WHERE rank <= {k}
    """


# sim3's deterministic centroid seeding: the first SIM3_CENTROIDS
# corpus vectors (vec_id < SIM3_CENTROIDS) — one count for the Spark
# query and its oracle
SIM3_CENTROIDS = 16


@register("sim3_ivf_topk", _ivf_oracle_sql(n_centroids=SIM3_CENTROIDS))
def sim3_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-k (coarse-quantizer scale path): centroid cells prune
    the corpus, n_probe cells per query get exact cosine ranking. Seeded
    deterministic centroids here (oracle-derivable); production plugs
    MLlib KMeans centers into the same `centroids` parameter."""
    from gemproc2caom2_spark.operators.similarity import ivf_topk

    emb = load(spark, sf_dir, "embeddings", spread=True)
    # centroid seed rows AND the 3-row query side from the unspread
    # load: both are tiny pushed-filter scans, and deriving them from
    # the spread frame cost a full-corpus repartition shuffle each
    # (the centroid .collect() inside ivf_topk would otherwise scan
    # through the repartition; same rows either way)
    raw = load(spark, sf_dir, "embeddings")
    cents = {
        int(r[0]): [float(x) for x in r[1]]
        for r in raw.where(F.col("vec_id") < SIM3_CENTROIDS)
        .select("vec_id", "embedding")
        .collect()
    }
    q = raw.where(F.col("vec_id").isin(0, 1, 2))
    out = ivf_topk(
        emb, q, k=5, n_centroids=SIM3_CENTROIDS, n_probe=4, centroids=cents
    )
    return out.withColumn("rank", F.col("rank").cast("bigint"))


def _ivf_trained_oracle_sql(k: int = 5, n_probe: int = 4) -> str:
    """ivf_topk probing STORED MLlib-trained centers: cent comes from
    the ivf_centers fixture (tests/gen_fixtures.py), selected by the
    embeddings-corpus fingerprint the oracle recomputes from the table
    it sees — the same key the Spark query resolves."""
    emb_md5 = (
        "(SELECT md5(string_agg(md5(embedding::VARCHAR), '' ORDER BY vec_id)) "
        "FROM embeddings)"
    )
    cos_ec = (
        "list_sum(list_transform(range(1, len(e.embedding) + 1), "
        "i -> e.embedding[i]::DOUBLE * cent.cvec[i])) / "
        "(sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1), "
        "i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))) * "
        "sqrt(list_sum(list_transform(range(1, len(cent.cvec) + 1), "
        "i -> cent.cvec[i] * cent.cvec[i]))))"
    )
    return f"""
    WITH cent AS (
      SELECT cid::BIGINT AS cid, cvec FROM read_parquet('{_IVF_FIXTURE}')
      WHERE emb_md5 = {emb_md5}),
    sc AS (
      SELECT e.vec_id, cent.cid, {cos_ec} AS c
      FROM embeddings e CROSS JOIN cent),
    asg AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY c DESC, cid ASC) AS rn
        FROM sc) WHERE rn = 1),
    probe AS (
      SELECT vec_id AS query_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY c DESC, cid ASC) AS rn
        FROM sc WHERE vec_id IN (0, 1, 2)) WHERE rn <= {n_probe}),
    cand AS (
      SELECT probe.query_id, asg.vec_id
      FROM probe JOIN asg ON asg.cid = probe.cid
      WHERE asg.vec_id <> probe.query_id),
    scored AS (
      SELECT cand.query_id, cand.vec_id,
             round({_DOT} / ({_NQ} * {_NC}), 6) AS cosine
      FROM cand
      JOIN embeddings q ON q.vec_id = cand.query_id
      JOIN embeddings c ON c.vec_id = cand.vec_id),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id ASC) AS rank
      FROM scored)
    SELECT query_id, vec_id, cosine, rank::BIGINT AS rank
    FROM ranked WHERE rank <= {k}
    """


@register("sim4_ivf_trained", _ivf_trained_oracle_sql())
def sim4_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN probing a TRAINED, PERSISTED quantizer: MLlib k-means||
    centers (k=16, seed=42) stored as a (cid, cvec) parquet at fixture-
    generation time and selected here by corpus fingerprint — never
    retrained at query time. A production registry keys the model row
    by the Iceberg table's snapshot id; the content fingerprint (one
    driver-side DuckDB pass over the embeddings column at model-LOOKUP
    time only, never per row) is the sandbox stand-in for that id.
    A corpus with NO stored model raises a descriptive error (run
    tests/gen_fixtures.py to train+store): silently retraining
    in-session would return rows the fixture-keyed oracle cannot see —
    a guaranteed cross-engine mismatch masquerading as a wrong answer
    instead of the real problem (missing model registry entry)."""
    from gemproc2caom2_spark.operators.similarity import ivf_topk

    emb = load(spark, sf_dir, "embeddings", spread=True)
    centroids: dict[int, list[float]] | None = None
    if _os.path.exists(_IVF_FIXTURE):
        import duckdb

        con = duckdb.connect()
        fp = con.sql(
            "SELECT md5(string_agg(md5(embedding::VARCHAR), '' ORDER BY vec_id)) "
            f"FROM '{sf_dir}/embeddings.parquet'"
        ).fetchone()[0]
        con.close()
        rows = (
            spark.read.parquet(_IVF_FIXTURE)
            .where(F.col("emb_md5") == fp)
            .collect()
        )
        if rows:
            centroids = {int(r.cid): [float(x) for x in r.cvec] for r in rows}
    if centroids is None:
        raise ValueError(
            f"no stored IVF model for corpus {sf_dir!r} in {_IVF_FIXTURE!r}; "
            "run `python tests/gen_fixtures.py` to train and store one "
            "(sim3_ivf_topk is the untrained-quantizer variant)"
        )
    # query side from the unspread load (see sim2) — identical 3 rows,
    # no corpus shuffle to build the broadcast side
    q = load(spark, sf_dir, "embeddings").where(F.col("vec_id").isin(0, 1, 2))
    out = ivf_topk(
        emb, q, k=5, n_centroids=len(centroids), n_probe=4, centroids=centroids
    )
    return out.withColumn("rank", F.col("rank").cast("bigint"))


# ===========================================================================
# text -> embedding (the stage that lets the ANN/semantic-dedup tier
# run end-to-end from raw documents instead of a pre-built vector table)
# ===========================================================================

_EMB_DIM = 64


def _emb_prelude_sql(dim: int = _EMB_DIM, src_table: str = "documents") -> str:
    """DuckDB CTEs deriving the hashed-TF embedding from text — the
    exact twin of operators.embed.with_text_embedding (hex15 % dim
    scatter counts over whitespace words of lower(text))."""
    h = hex15_hash_sql("w")
    return f"""emb_idx AS (
      SELECT doc_id, list_transform({_SQL_WORDS}, w -> {h} % {dim}) AS idxs
      FROM {src_table} WHERE trim(text) <> ''),
    emb_src AS (
      SELECT doc_id AS vec_id,
             list_transform(range(0, {dim}),
                            i -> len(list_filter(idxs, x -> x = i))::DOUBLE)
               AS embedding
      FROM emb_idx)"""


def _emb_centered_prelude_sql(dim: int = _EMB_DIM) -> str:
    """Extends the embedding prelude with the exact-integer centered
    vector N*v - S (operators.embed.with_centered_vector): bit-exact in
    both engines because no float mean is ever formed."""
    return (
        _emb_prelude_sql(dim)
        + f""",
    emb_sums AS (
      SELECT list(s ORDER BY pos) AS svec FROM (
        SELECT pos, sum(v)::BIGINT AS s
        FROM (SELECT unnest(embedding) AS v,
                     unnest(range(1, {dim + 1})) AS pos
              FROM emb_src)
        GROUP BY pos)),
    emb_n AS (SELECT count(*)::BIGINT AS n FROM emb_src),
    emb_cent AS (
      SELECT e.vec_id,
             list_transform(range(1, {dim + 1}),
                            i -> (n * e.embedding[i]::BIGINT
                                  - svec[i])::DOUBLE) AS cvec
      FROM emb_src e CROSS JOIN emb_sums CROSS JOIN emb_n)"""
    )


@register(
    "emb1_text_embedding",
    f"""
    WITH {_emb_prelude_sql()}
    SELECT vec_id AS doc_id,
           array_to_string(list_transform(embedding, x -> x::BIGINT), ',')
             AS embedding_csv
    FROM emb_src
    """,
)
def emb1_text_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic text->embedding: {_EMB_DIM}-dim feature-hashed TF
    vector (hex15(word) % dim scatter-counts), the Arrow np.bincount
    scale path. Map-side only — no shuffle; the oracle rebuilds the
    identical vector in SQL because the hash is cross-engine hex15.
    Reference analog: the F5 derived-score pattern
    (/root/reference/gemProc2caom2/main_app.py:339-372) applied to
    vectorization."""
    from gemproc2caom2_spark.operators.embed import with_text_embedding

    d = load(spark, sf_dir, "documents", spread=True)
    d = d.where(F.trim(F.col("text")) != "")
    out = with_text_embedding(d, dim=_EMB_DIM, use_udf=True)
    return out.select(
        "doc_id",
        F.concat_ws(
            ",", F.transform(F.col("embedding"), lambda x: x.cast("bigint"))
        ).alias("embedding_csv"),
    )


@register(
    "emb2_semantic_near_dup_text",
    _near_dup_oracle_sql(
        threshold=0.95, bits=6, dim=_EMB_DIM,
        src="emb_src", prelude=_emb_centered_prelude_sql(),
        bucket_src="emb_cent", bucket_vec="cvec",
    ),
)
def emb2_semantic_near_dup_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup END-TO-END FROM TEXT: documents -> hashed-TF
    embedding -> hyperplane-bucket candidates -> exact cosine >= 0.95.
    Composes emb1's vectorization with dd5's bucketed near-dup operator
    — the missing link the round-4 verdict called out (the ANN tier
    previously only ran on the synthetic ``embeddings`` table).

    Bucketing uses the CENTERED vector (exact-integer N*v - S,
    operators/embed.with_centered_vector) while the cosine scores the
    raw TF vector: raw web-text TF shares a dominant stopword direction,
    so hyperplane signs correlate and the candidate pool approaches the
    cartesian (measured: 96k of ~125k possible pairs at sf0.01);
    centering restores sign entropy (282 candidate pairs) with zero
    recall loss at the 0.95 bar. The 0.95 threshold is a real near-dup
    bar for word-TF cosine — template siblings share vocabulary and
    clear 0.85, only the genuinely near-identical tail clears 0.95."""
    from gemproc2caom2_spark.operators.embed import (
        with_centered_vector,
        with_text_embedding,
    )
    from gemproc2caom2_spark.operators.similarity import embedding_near_dup_pairs

    d = load(spark, sf_dir, "documents", spread=True)
    d = d.where(F.trim(F.col("text")) != "")
    # The thin (vec_id, embedding) frame is referenced twice by the
    # centering stats aggregate and once by the bucket/score stage; an
    # eager localCheckpoint computes the text->embedding Arrow chain
    # exactly once (8*dim bytes/doc — model-thin, never the fat text).
    emb = (
        with_text_embedding(d, dim=_EMB_DIM, use_udf=True)
        .select(F.col("doc_id").alias("vec_id"), "embedding")
        .localCheckpoint(eager=True)
    )
    emb = with_centered_vector(emb, dim=_EMB_DIM)
    # int_exact: TF and centered vectors are integer-valued, so the
    # vectorized Arrow kernels are bit-identical to the Column folds
    # (see embedding_near_dup_pairs: pairs are scored per bucket group,
    # never materialized as rows)
    return embedding_near_dup_pairs(
        emb, threshold=0.95, bits=6, tables=8, dim=_EMB_DIM,
        bucket_vec_col="cvec", int_exact=True,
    )


def _semantic_mark_oracle_sql(
    threshold: float = 0.95, bits: int = 6, tables: int = 8, dim: int = _EMB_DIM
) -> str:
    """DuckDB rendering of mark_semantic_duplicates over the text->
    embedding prelude: centered-vector hyperplane buckets (same literal
    plane weights), groupBy-min per bucket, exact-cosine verification
    against the bucket min, dd7-style 2-hop pointer jumping."""
    from gemproc2caom2_spark.operators.similarity import plane_weights

    outs = []
    for t in range(tables):
        ws = plane_weights(bits, t, dim)
        terms = []
        for i in range(bits):
            arr = "[" + ",".join("1.0" if w > 0 else "-1.0" for w in ws[i]) + "]"
            dot = (
                f"list_sum(list_transform(range(1, {dim + 1}), "
                f"j -> e.cvec[j]::DOUBLE * ({arr})[j]))"
            )
            terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << i} ELSE 0 END)")
        outs.append("(" + " + ".join(terms) + f" + {t << 60})")
    b = "[" + ", ".join(outs) + "]"
    dot_am = (
        "list_sum(list_transform(range(1, len(a.embedding) + 1), "
        "i -> a.embedding[i]::DOUBLE * m.embedding[i]::DOUBLE))"
    )
    na = (
        "sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1), "
        "i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)))"
    )
    nm = (
        "sqrt(list_sum(list_transform(range(1, len(m.embedding) + 1), "
        "i -> m.embedding[i]::DOUBLE * m.embedding[i]::DOUBLE)))"
    )
    return f"""
    WITH {_emb_centered_prelude_sql(dim)},
    cb AS (SELECT e.vec_id, unnest({b}) AS bucket FROM emb_cent e),
    bm AS (SELECT bucket, min(vec_id) AS bmin FROM cb GROUP BY bucket),
    cand AS (SELECT DISTINCT cb.vec_id, bm.bmin FROM cb JOIN bm USING (bucket)),
    ver AS (
      SELECT c.vec_id, c.bmin FROM cand c
      JOIN emb_src a ON a.vec_id = c.vec_id
      JOIN emb_src m ON m.vec_id = c.bmin
      WHERE round({dot_am} / ({na} * {nm}), 6) >= {threshold}),
    c0 AS (SELECT vec_id, min(bmin) AS canon FROM ver GROUP BY vec_id),
    c1 AS (SELECT a.vec_id, coalesce(p.canon, a.canon) AS canon
           FROM c0 a LEFT JOIN c0 p ON a.canon = p.vec_id),
    c2 AS (SELECT a.vec_id, coalesce(p.canon, a.canon) AS canon
           FROM c1 a LEFT JOIN c1 p ON a.canon = p.vec_id)
    SELECT e.vec_id,
           coalesce(c2.canon < e.vec_id, FALSE) AS is_duplicate,
           CASE WHEN c2.canon < e.vec_id THEN c2.canon END AS canonical_id
    FROM emb_src e LEFT JOIN c2 USING (vec_id)
    """


@register("emb3_semantic_dedup_mark", _semantic_mark_oracle_sql())
def emb3_semantic_dedup_mark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup MARKING from text — the linear-scale production
    shape: text -> hashed-TF embedding -> centered-vector hyperplane
    buckets -> groupBy-min per bucket -> exact cosine >= 0.95 verified
    against the bucket min only (at most ``tables`` candidates per doc,
    never a pair enumeration) -> keep/drop verdict with canonical
    lineage. Candidate volume is tables x |corpus| regardless of
    cluster structure — the shape that survives template farms at
    100 TB, vs emb2's 2.67M candidate pairs at sf0.1."""
    from gemproc2caom2_spark.operators.dedup import mark_semantic_duplicates
    from gemproc2caom2_spark.operators.embed import (
        with_centered_vector,
        with_text_embedding,
    )

    d = load(spark, sf_dir, "documents", spread=True)
    d = d.where(F.trim(F.col("text")) != "")
    # thin (vec_id, embedding) checkpoint: the frame feeds the centering
    # stats (2 refs), the bucket/verify kernel and the final flags join —
    # without the barrier the text->embedding Arrow chain replays per
    # branch (measured: 220 Exchanges in the r5 plan)
    emb = (
        with_text_embedding(d, dim=_EMB_DIM, use_udf=True)
        .select(F.col("doc_id").alias("vec_id"), "embedding")
        .localCheckpoint(eager=True)
    )
    emb = with_centered_vector(emb, dim=_EMB_DIM)
    return mark_semantic_duplicates(
        emb,
        threshold=0.95,
        bits=6,
        tables=8,
        dim=_EMB_DIM,
        key_col="vec_id",
        vec_col="embedding",
        bucket_vec_col="cvec",
        int_exact=True,
        resolve_hops=2,
    )


# ===========================================================================
# text analysis
# ===========================================================================


@register(
    "tx1_langid",
    f"SELECT doc_id, lang AS lang_claimed, {langid_sql('text')} AS lang_pred FROM documents",
)
def tx1_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language re-derivation over the documents table (the reference
    re-derives WCS rather than trusting headers, main_app.py:374-403)."""
    return load(spark, sf_dir, "documents", spread=True).select(
        "doc_id",
        F.col("lang").alias("lang_claimed"),
        langid_expr("text").alias("lang_pred"),
    )


@register(
    "tx2_quality_metrics",
    f"""
    SELECT doc_id, doc_len, n_words,
           round(symbol_ratio, 6) AS symbol_ratio,
           round(rare_char_ratio, 6) AS rare_char_ratio,
           round(mean_line_len, 6) AS mean_line_len,
           round(repeated_line_frac, 6) AS repeated_line_frac
    FROM ({quality_sql()}) WHERE length(text) > 0
    """,
)
def tx2_quality_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4 heuristic metrics as pure Column exprs (operators/
    heuristics.quality_struct), flattened + rounded for the oracle."""
    d = load(spark, sf_dir, "documents", spread=True).where(F.length("text") > 0)
    q = F.col("q")
    return (
        d.select("doc_id", F.col("text"))
        .withColumn("q", quality_struct("text"))
        .select(
            "doc_id",
            q.getField("doc_len").alias("doc_len"),
            q.getField("n_words").alias("n_words"),
            F.round(q.getField("symbol_ratio"), 6).alias("symbol_ratio"),
            F.round(q.getField("rare_char_ratio"), 6).alias("rare_char_ratio"),
            F.round(q.getField("mean_line_len"), 6).alias("mean_line_len"),
            F.round(q.getField("repeated_line_frac"), 6).alias("repeated_line_frac"),
        )
    )


@register(
    "tx3_token_counts",
    f"""
    SELECT source,
           sum(coalesce(length(regexp_extract_all(text, '\\S+')), 0))::BIGINT AS ws_tokens,
           sum(length(regexp_extract_all(text,
               '[A-Za-z]+(?:''[A-Za-z]+)?|[0-9]+|[^\\sA-Za-z0-9]')))::BIGINT AS bpeish_tokens,
           count(*)::BIGINT AS n_docs
    FROM documents GROUP BY source
    """,
)
def tx3_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex) rolled up per source."""
    d = load(spark, sf_dir, "documents", spread=True)
    return d.groupBy("source").agg(
        F.sum(TX.token_count_ws("text")).alias("ws_tokens"),
        F.sum(TX.token_count_bpeish("text")).alias("bpeish_tokens"),
        F.count("*").alias("n_docs"),
    )


@register(
    "tx4_fingerprint",
    f"""
    WITH n AS (
      SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS s
      FROM documents),
    g AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(length(s) - 7, 0) + 1),
                                          i -> substring(s, i, 8))) AS grams
      FROM n)
    SELECT doc_id,
           array_to_string(list_transform(
             list_sort(list_transform(grams, g -> {hex15_hash_sql('g')}))[1:4],
             x -> x::VARCHAR), ',') AS fingerprint
    FROM g WHERE len(grams) >= 4
    """,
)
def tx4_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style document fingerprint: 4 smallest hex15 hashes of
    the distinct char 8-grams (functions.text.char_ngrams) of the
    lowercased, whitespace-collapsed text.

    r6 shape: the char-gram construction and per-gram md5 stay JVM-side;
    the distinct/sort/keep-4/join step runs in one Arrow kernel whose
    output is NULL for docs with fewer than 4 distinct grams, and the
    row filter tests that null with the kernel marked non-deterministic.
    The r5 ``where(size(fp) >= 4)`` predicate — the full gram+md5 chain
    (~580 md5 calls per doc) — was pushed below the spread repartition
    and evaluated serially in the single-split scan task plus again
    post-shuffle: 53 s at sf1.0 for a map-only query (the dd2
    filter-pushdown trap). Equivalence: np.unique == array_sort ∘
    array_distinct on int64; slice(,1,4) == the first 4; size(fp) >= 4
    ⇔ n_distinct >= 4 ⇔ non-null csv; str(int64) == bigint→string."""
    import numpy as _np
    import pandas as _pd

    d = load(spark, sf_dir, "documents", spread=True)
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    hashes = F.transform(TX.char_ngrams(norm, 8), hex15_hash)

    def _fp_fn(hs):
        out = []
        for arr in hs:
            if arr is None:
                out.append(None)
                continue
            u = _np.unique(_np.asarray(arr, dtype=_np.int64))
            if len(u) < 4:
                out.append(None)
            else:
                out.append(",".join(str(int(x)) for x in u[:4]))
        return _pd.Series(out, dtype="object")

    _fp = F.pandas_udf(_fp_fn, "string").asNondeterministic()
    return (
        d.select("doc_id", _fp(hashes).alias("fingerprint"))
        .where(F.col("fingerprint").isNotNull())
    )


@register(
    "tx5_scrub",
    f"SELECT doc_id, {scrub_sql('text')} AS scrubbed_text FROM documents WHERE doc_id < 200",
)
def tx5_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII/toxicity scrub chain — byte-identical across engines."""
    return (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 200)
        .select("doc_id", scrub_expr("text").alias("scrubbed_text"))
    )


# ===========================================================================
# multimodal plumbing
# ===========================================================================


@register(
    "mm1_media_bytes",
    """
    SELECT doc_id, octet_length(encode(text))::BIGINT AS n_bytes,
           'text/html' AS media_type
    FROM documents
    """,
)
def mm1_media_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload accounting (SQL-checkable projection of the media
    path: payload bytes + declared type)."""
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.octet_length(F.encode(F.col("text"), "utf-8")).cast("bigint").alias("n_bytes"),
        F.lit("text/html").alias("media_type"),
    )


@register(
    "mm2_media_features",
    # fixture oracle (tests/gen_fixtures.py): the deterministic fake
    # decode pinned per distinct text, keyed by md5(text); null payloads
    # decode to (0, 0, zeros) on the Spark side -> coalesce here
    """
    SELECT d.doc_id,
           coalesce(octet_length(encode(d.text)), 0)::BIGINT AS n_bytes,
           'text/html' AS media_type,
           coalesce(fx.width, 0) AS width,
           coalesce(fx.height, 0) AS height,
           coalesce(fx.feat0, 0.0) AS feat0
    FROM documents d
    LEFT JOIN read_parquet('{mm_fixture}') fx ON md5(d.text) = fx.text_md5
    """.replace("{mm_fixture}", _MM_FIXTURE),
)
def mm2_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full media decode plumbing: binary payload -> mapInPandas ->
    typed feature rows (decoder stubbed deterministically; schema,
    batching and partitioning are the real thing). feat0 is cast to
    double BEFORE rounding so the float32 feature compares exactly
    against the fixture's double (float->double is exact)."""
    d = load(spark, sf_dir, "documents", spread=True).select(
        "doc_id",
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.lit("text/html").alias("media_type"),
    )
    out = decode_media_features(d)
    return out.select(
        "doc_id", "n_bytes", "media_type", "width", "height",
        F.round(F.element_at("feature", 1).cast("double"), 6).alias("feat0"),
    )


@register(
    "mm3_frame_sample",
    # one fixture row per (distinct text, frame): docs with null/empty
    # text emit no frames on either side (inner join == empty payload)
    """
    SELECT d.doc_id, fx.frame_idx, fx.n_bytes, fx.width, fx.height, fx.feat0
    FROM documents d
    JOIN read_parquet('{frames_fixture}') fx ON md5(d.text) = fx.text_md5
    """.replace("{frames_fixture}", _FRAMES_FIXTURE),
)
def mm3_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing: binary payload -> mapInPandas emitting
    ONE ROW PER FRAME (row-count-changing Arrow stage, the video-keyframe
    shape; sampler stubbed deterministically, schema/batching real).
    Oracle: the pinned sampler's fixture joined per distinct text."""
    from gemproc2caom2_spark.operators.multimodal import sample_media_frames

    d = load(spark, sf_dir, "documents", spread=True).select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    out = sample_media_frames(d, n_frames=3)
    return out.select(
        "doc_id", "frame_idx", "n_bytes", "width", "height",
        F.round(F.element_at("feature", 1).cast("double"), 6).alias("feat0"),
    )


@register(
    "mm4_resize",
    # null-text docs decode to all-zero dims/features on the Spark side
    """
    SELECT d.doc_id,
           coalesce(fx.width, 0) AS width,
           coalesce(fx.height, 0) AS height,
           coalesce(fx.resized_w, 0) AS resized_w,
           coalesce(fx.resized_h, 0) AS resized_h,
           coalesce(fx.feat0, 0.0) AS feat0
    FROM documents d
    LEFT JOIN read_parquet('{resize_fixture}') fx ON md5(d.text) = fx.text_md5
    """.replace("{resize_fixture}", _RESIZE_FIXTURE),
)
def mm4_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize/thumbnail plumbing (the jpg preview/thumb pixel path,
    preview_augmentation.py:88-133): decode dims, downscale the longer
    side to 128, re-extract the feature from the subsampled payload —
    all inside one Arrow mapInPandas stage; sampler stubbed, shape
    real. Oracle: the pinned resizer's fixture per distinct text."""
    from gemproc2caom2_spark.operators.multimodal import resize_media

    d = load(spark, sf_dir, "documents", spread=True).select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    out = resize_media(d, max_dim=128)
    return out.select(
        "doc_id", "width", "height", "resized_w", "resized_h",
        F.round(F.element_at("feature", 1).cast("double"), 6).alias("feat0"),
    )


# ===========================================================================
# curation verdict over the documents table
# ===========================================================================

def _as_pages(df: DataFrame) -> DataFrame:
    """documents rows in curate()'s web-page input schema: the url is
    synthesized from source and doc_id, the html is the text's bytes."""
    return df.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit(".example/doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.lit("2025-07-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.encode(F.col("text"), "utf-8").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def _verdict_ctes(rules: RuleConfig = DEFAULT_RULES) -> str:
    """The verdict CTE chain of the oracles, m -> v -> f -> p:
    quality_sql's metrics and lang_pred over the LANGID_CAP prefix, the
    cheap text-gate verdict ``cheap``, the fixture perplexity of the
    docs that pass it (keyed by md5(text)), and the full verdict
    ``drop_reason`` with the perplexity gate. Every column of
    ``documents`` rides along (cur1 rebuilds the url from ``source``)."""
    return f"""
    WITH m AS (
      SELECT *, {langid_sql(f"substring(text, 1, {LANGID_CAP})")} AS lang_pred
      FROM ({quality_sql()})),
    v AS (SELECT *, {cheap_drop_reason_sql(rules)} AS cheap FROM m),
    f AS (
      SELECT v.*, CASE WHEN v.cheap IS NULL THEN fx.ppl_r6 END AS perplexity
      FROM v LEFT JOIN read_parquet('{_PPL_FIXTURE}') fx
        ON md5(v.text) = fx.text_md5),
    p AS (SELECT *, {drop_reason_sql("perplexity", rules=rules)} AS drop_reason FROM f)
"""


_VERDICT_CTES = _verdict_ctes()


@register(
    "cur2_heuristic_verdict",
    _VERDICT_CTES
    + f"""
    SELECT doc_id, lang_pred, cheap AS drop_reason, (cheap IS NULL) AS keep,
           {scrub_sql('text')} AS scrubbed_text
    FROM v
    """,
)
def cur2_heuristic_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Column-expression core of curate()'s verdict —
    verdict.cheap_drop_reason over quality_struct and langid on the
    LANGID_CAP prefix, i.e. everything except the Arrow perplexity
    stage and corpus-level dedup — applied to the documents table:
    oracle-checked keep/drop + scrub. The oracle's ``cheap`` column is
    the rendering of the same gate list, so a change to either engine's
    gates breaks parity."""
    d = load(spark, sf_dir, "documents", spread=True).select(
        "doc_id",
        "text",
        quality_struct("text").alias("q"),
        langid_expr(F.substring("text", 1, LANGID_CAP)).alias("lang_pred"),
    )
    reason = cheap_drop_reason(
        F.col("text"), F.col("q"), F.col("lang_pred"), DEFAULT_RULES
    )
    return d.select(
        "doc_id",
        "lang_pred",
        reason.alias("drop_reason"),
        reason.isNull().alias("keep"),
        scrub_expr("text").alias("scrubbed_text"),
    )


@register(
    "cur3_flagship_oracle",
    _VERDICT_CTES
    + f"""
    SELECT doc_id, lang_pred, drop_reason, (drop_reason IS NULL) AS keep,
           perplexity,
           CASE WHEN cheap IS NULL THEN {scrub_sql('text')} END AS scrubbed_text
    FROM p
    """,
)
def cur3_flagship_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL flagship verdict — langid + capped quality gates +
    Arrow-perplexity gate + byte-identical scrub — oracle-checked end to
    end. The perplexity values come from a golden fixture parquet keyed
    by md5(text), generated by the pinned scalar implementation
    (tests/gen_fixtures.py; the reference's golden-regeneration pattern,
    tests/test_main_app.py:171-186). Dedup is off here (cluster-level
    LSH on xxhash64 is not SQL-replicable; cur1 covers it rows-only)."""
    from gemproc2caom2_spark.plans.pipeline import ALL_STAGES, curate

    d = _as_pages(load(spark, sf_dir, "documents"))
    out = curate(d, stages=tuple(s for s in ALL_STAGES if s != "dedup"))
    return out.select(
        F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("bigint").alias("doc_id"),
        "lang_pred",
        "drop_reason",
        "keep",
        "perplexity",
        "scrubbed_text",
    )


@register(
    "cur1_flagship_pipeline",
    _VERDICT_CTES
    + f"""
    , d AS (
      SELECT * REPLACE ({drop_reason_sql("perplexity", "is_dup")} AS drop_reason)
      FROM (
        SELECT p.*, (dd.doc_id IS NOT NULL) AS is_dup
        FROM p LEFT JOIN read_parquet('{_DUP_FIXTURE}') dd
          ON dd.doc_id = p.doc_id
         AND dd.corpus_md5 = (SELECT md5(string_agg(md5(coalesce(text, '')),
                                                    '' ORDER BY doc_id))
                              FROM documents)))
    SELECT 'https://' || lower(source) || '.example/doc/' || doc_id AS url,
           lang_pred, (drop_reason IS NULL) AS keep, drop_reason, perplexity,
           doc_len
    FROM d
    """,
)
def cur1_flagship_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation DAG — cheap gates + Arrow perplexity + MinHash
    LSH dedup — over the documents table mapped into the web-page input
    schema (url synthesized from doc_id, html from text bytes).

    The oracle runs the shared SQL verdict chain and joins TWO pinned
    fixtures (tests/gen_fixtures.py): the scalar-perplexity table keyed
    by md5(text), and the LSH duplicate-verdict golden keyed by
    (corpus fingerprint, doc_id) — LSH over xxhash64 signatures is not
    SQL-derivable, so the duplicate set is a regression pin of our own
    construction, the reference's golden-XML pattern
    (tests/test_main_app.py:171-186)."""
    from gemproc2caom2_spark.plans.pipeline import curate

    out = curate(_as_pages(load(spark, sf_dir, "documents")), num_partitions=None)
    return out.select(
        "url", "lang_pred", "keep", "drop_reason", "perplexity",
        F.col("quality").getField("doc_len").alias("doc_len"),
    )


@register(
    "v9_rejected_verdict",
    _VERDICT_CTES
    + f"""
    , r AS (
      SELECT doc_id, {drop_reason_sql(is_rejected="doc_id % 10 = 0")} AS drop_reason
      FROM m)
    SELECT doc_id, drop_reason, (drop_reason IS NULL) AS keep FROM r
    """,
)
def v9_rejected_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V9: the validity/rejected slot of the verdict precedence chain
    (operators/verdict.DROP_PRECEDENCE position 2) actually firing — a
    known-bad set (the rejected.yml analog, config.yml:58-62; here a
    deterministic doc_id predicate standing in for the broadcast
    rejected list) flows through the REAL with_verdict chain to
    drop_reason='rejected', outranked only by 'empty'. Resume-time
    suppression of rejected rows is pinned by tests/test_checkpoint.py
    (ST4)."""
    from gemproc2caom2_spark.operators.verdict import with_verdict

    d = load(spark, sf_dir, "documents", spread=True).select(
        "doc_id",
        F.col("text").alias("text_extracted"),
        quality_struct("text").alias("quality"),
        langid_expr(F.substring("text", 1, LANGID_CAP)).alias("lang_pred"),
        F.lit(None).cast("double").alias("perplexity"),
        (F.col("doc_id") % 10 == 0).alias("rejected"),
    )
    out = with_verdict(d, rejected_col="rejected")
    return out.select("doc_id", "drop_reason", "keep")


# ===========================================================================
# preview / thumbnail side-output (K3)
# ===========================================================================

def _excerpt_sql(limit: int) -> str:
    head = f"substring(text, 1, {limit})"
    rev = f"position(' ' IN reverse({head}))"
    return (
        f"CASE WHEN length(text) <= {limit} THEN text "
        f"WHEN {rev} > 0 THEN substring({head}, 1, length({head}) - {rev}) "
        f"ELSE {head} END"
    )


@register(
    "k3_preview_sideoutput",
    f"""
    SELECT doc_id,
           {_excerpt_sql(280)} AS preview,
           {_excerpt_sql(64)} AS thumbnail,
           length(text)::BIGINT AS n_chars
    FROM documents WHERE length(text) >= 120
    """,
)
def k3_preview_sideoutput(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3: preview + thumbnail derived artifacts per keepable doc (the
    jpg preview/thumb pair, preview_augmentation.py:88-133 /
    builder.py:100-106) — word-boundary excerpts as a side table."""
    from gemproc2caom2_spark.operators.preview import preview_excerpt

    d = load(spark, sf_dir, "documents", spread=True).where(F.length("text") >= 120)
    return d.select(
        "doc_id",
        preview_excerpt("text", 280).alias("preview"),
        preview_excerpt("text", 64).alias("thumbnail"),
        F.length("text").cast("long").alias("n_chars"),
    )


# ===========================================================================
# checkpoint ledger + compaction, end to end (K5 / S1 / ST1 in one DAG)
# ===========================================================================

@register(
    "k5_ledger_compaction",
    _VERDICT_CTES
    + """
    SELECT doc_id, lang_pred, drop_reason, (drop_reason IS NULL) AS keep,
           perplexity
    FROM p
    """,
)
def k5_ledger_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 in driver context: the full snapshot-ledger lifecycle — two
    incremental runs over disjoint halves of the corpus, a third resume
    pass that must find nothing to do, then ``compact_runs`` merging the
    snapshots (supersede protocol + retired-dir GC) — and the compacted
    ledger must read back EXACTLY one full pass of the verdict chain.
    Dedup is off so the halves are row-independent and the union is
    SQL-expressible (cross-run near-dup + chained compaction semantics
    are pytest-pinned in tests/test_checkpoint.py). Reference analog:
    the todo/success/retry rollover, composable.py:126-135 and
    tests/test_composable.py:126-135."""
    import shutil
    import tempfile

    from gemproc2caom2_spark.plans.checkpoint import (
        committed_results,
        committed_run_ids,
        compact_runs,
        run_incremental,
    )

    # per-invocation unique root: a fixed shared path raced between two
    # concurrent sessions at the same scale factor (one's rmtree vs the
    # other's in-flight ledger writes) and left the ledger behind
    root = tempfile.mkdtemp(
        prefix="gemproc_k5_" + _os.path.basename(sf_dir.rstrip("/")) + "_"
    )
    docs = load(spark, sf_dir, "documents")

    run_incremental(spark, _as_pages(docs.where(F.col("doc_id") % 2 == 0)),
                    root, run_id="half-a", dedup=False)
    run_incremental(spark, _as_pages(docs.where(F.col("doc_id") % 2 == 1)),
                    root, run_id="half-b", dedup=False)
    _, n_resume = run_incremental(spark, _as_pages(docs), root,
                                  run_id="resume", dedup=False)
    if n_resume != 0:
        raise ValueError(f"resume run reprocessed {n_resume} rows")
    compact_runs(spark, root)
    live = committed_run_ids(spark, root)
    if len(live) != 1:
        raise ValueError(f"expected 1 live run after compaction, got {live}")
    res = committed_results(spark, root).select(
        F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("bigint").alias("doc_id"),
        "lang_pred",
        "drop_reason",
        "keep",
        "perplexity",
    )
    # pin the result off the ledger files (localCheckpoint blocks), then
    # delete the per-invocation root so nothing is left behind
    res = res.localCheckpoint(eager=True)
    shutil.rmtree(root, ignore_errors=True)
    return res


# ===========================================================================
# distributed LM training (the KenLM lmplz analog; P3/F5 training side)
# ===========================================================================

@register(
    "tx6_bigram_lm_train",
    """
    WITH pairs AS (
      SELECT unicode(p[1]) AS c1, unicode(p[2]) AS c2
      FROM (
        SELECT unnest(list_transform(range(1, length(t)),
                      i -> [substring(t, i, 1), substring(t, i + 1, 1)])) AS p
        FROM (SELECT lower(text) AS t FROM documents WHERE length(text) >= 2)
      )
    )
    SELECT CAST(CASE WHEN c1 BETWEEN 32 AND 126 THEN c1 - 31 ELSE 0 END AS INT)
             AS prev_idx,
           CAST(CASE WHEN c2 BETWEEN 32 AND 126 THEN c2 - 31 ELSE 0 END AS INT)
             AS cur_idx,
           count(*)::BIGINT AS n
    FROM pairs GROUP BY 1, 2
    """,
)
def tx6_bigram_lm_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed char-bigram LM training over the corpus — the KenLM
    `lmplz` step of the quality-filter pipeline, run as a Spark job:
    per-batch np.bincount folding, per-partition nonzero-cell emission
    (<= V^2 cells per partition regardless of corpus size), groupBy-sum
    reduce. The trained cells feed counts_to_logp/make_perplexity_udf
    (round-trip + seed-corpus parity pinned in tests/test_functions.py).
    Reference analog: building the keyword lookup tables from the
    archive's own holdings, main_app.py:135-181."""
    from gemproc2caom2_spark.functions.perplexity import train_bigram_counts

    d = load(spark, sf_dir, "documents", spread=True)
    return train_bigram_counts(d, text_col="text")


@register(
    "tx7_vocab_idf",
    r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      FROM documents WHERE text IS NOT NULL AND trim(lower(text)) <> ''
    ),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM toks)
    SELECT token, count(*)::BIGINT AS tf,
           count(DISTINCT doc_id)::BIGINT AS df,
           round(ln(n_docs::DOUBLE / count(DISTINCT doc_id)), 6) AS idf_r6
    FROM toks, n GROUP BY token, n_docs
    ORDER BY tf DESC, token ASC LIMIT 1000
    """,
)
def tx7_vocab_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary with document frequencies and IDF — the
    tokenizer-training (BPE vocab) and retrieval-weighting input table,
    one explode + one two-phase groupBy (see operators/vocab.py for the
    skew analysis at 10^12 docs)."""
    from gemproc2caom2_spark.operators.vocab import vocabulary

    d = load(spark, sf_dir, "documents", spread=True)
    return vocabulary(d, text_col="text", id_col="doc_id", k=1000)


# ===========================================================================
# model-based quality filtering (the fastText-supervised analog)
# ===========================================================================

def _tx8_oracle_sql() -> str:
    from gemproc2caom2_spark.operators.classifier import feature_sql, logit_sql

    logit = logit_sql(
        "fx",
        feature_sql("p.doc_len", "p.n_words", "p.symbol_ratio",
                    "p.repeated_line_frac", "p.rare_char_ratio"),
    )
    return (
        _VERDICT_CTES
        + f"""
    SELECT p.doc_id,
           {logit} AS logit_r6,
           ({logit} > 0) AS model_keep
    FROM p CROSS JOIN read_parquet('{_QLR_FIXTURE}') fx
    WHERE p.text IS NOT NULL AND p.doc_len > 0
    """
    )


@register("tx8_quality_classifier", _tx8_oracle_sql())
def tx8_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring: the stored MLlib-trained logistic
    weights (tests/gen_fixtures.py — rule-gate distillation, train_acc
    1.0 on the datagen corpus) applied as a pure Column-expression
    logit over the capped quality metrics. Train-store-probe protocol
    like sim4/tx6; scoring is JVM-only (weights inline as literals, the
    broadcast-rule-table pattern) and the oracle rebuilds the identical
    left-associated logit chain in SQL from the same fixture."""
    from gemproc2caom2_spark.operators.classifier import quality_logit_expr

    w = spark.read.parquet(_QLR_FIXTURE).first().asDict()
    d = (
        load(spark, sf_dir, "documents", spread=True)
        .where(F.col("text").isNotNull() & (F.length("text") > 0))
        .select("doc_id", quality_struct("text").alias("_q"))
        .select("doc_id", quality_logit_expr(F.col("_q"), w).alias("logit_r6"))
    )
    return d.withColumn("model_keep", F.col("logit_r6") > 0)


# ===========================================================================
# adaptive quantile thresholds (CCNet/Gopher per-language calibration)
# ===========================================================================

_TOKENS_SQL = "coalesce(length(regexp_extract_all(text, '\\S+')), 0)::BIGINT"


@register(
    "qt1_adaptive_quantile_filter",
    f"""
    WITH sc AS (
      SELECT doc_id, lang, {_TOKENS_SQL} AS score FROM documents),
    thr AS (
      SELECT lang, round(quantile_cont(score, 0.1), 6) AS threshold
      FROM sc GROUP BY lang)
    SELECT sc.doc_id, sc.lang, sc.score, thr.threshold,
           coalesce(sc.score >= thr.threshold, FALSE) AS keep
    FROM sc LEFT JOIN thr USING (lang)
    """,
)
def qt1_adaptive_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language adaptive quality cut: drop each language's bottom
    decile by token count instead of applying one global constant (a
    fixed cut tuned on English over-drops every shorter-form language —
    the CCNet calibration argument). F.percentile is Spark's EXACT
    interpolated percentile — bit-identical to DuckDB quantile_cont —
    and the integral score bounds the aggregator's value->count map at
    any corpus size (operators/thresholds.py). Reference analog: F3's
    per-group rule dispatch (main_app.py:205-219) with the rule value
    learned from the distribution."""
    from gemproc2caom2_spark.operators.thresholds import filter_by_group_quantile

    d = load(spark, sf_dir, "documents", spread=True)
    sc = d.select("doc_id", "lang", TX.token_count_ws("text").alias("score"))
    return filter_by_group_quantile(
        sc, score_col="score", group_col="lang", q=0.1
    ).select("doc_id", "lang", "score", "threshold", "keep")


@register(
    "qt2_quantile_buckets",
    f"""
    WITH sc AS (
      SELECT doc_id, lang,
             CASE WHEN tokens > 0
                  THEN round(length(text)::DOUBLE / tokens, 2) END AS score
      FROM (SELECT doc_id, lang, text, {_TOKENS_SQL} AS tokens
            FROM documents)),
    thr AS (
      SELECT lang,
             round(quantile_cont(score, {1.0 / 3!r}), 6) AS b0,
             round(quantile_cont(score, {2.0 / 3!r}), 6) AS b1
      FROM sc GROUP BY lang)
    SELECT sc.doc_id, sc.lang, sc.score,
           CASE WHEN sc.score IS NULL THEN NULL
                WHEN sc.score <= thr.b0 THEN 'head'
                WHEN sc.score <= thr.b1 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM sc LEFT JOIN thr USING (lang)
    """,
)
def qt2_quantile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail terciles per language. The bucketed
    score here is mean word length DISCRETIZED to 2 decimals — the
    documented scale practice for continuous scores (exact percentile
    memory is bounded by distinct values; production plugs perplexity
    through the same ``group_quantile_buckets`` with the same
    round-first discipline). Boundary rule <= lower bucket, pinned in
    both engines."""
    from gemproc2caom2_spark.operators.thresholds import group_quantile_buckets

    d = load(spark, sf_dir, "documents", spread=True)
    tokens = TX.token_count_ws("text")
    sc = d.select(
        "doc_id",
        "lang",
        F.when(
            tokens > 0, F.round(F.length("text").cast("double") / tokens, 2)
        ).alias("score"),
    )
    return group_quantile_buckets(
        sc, score_col="score", group_col="lang", bounds=(1.0 / 3, 2.0 / 3)
    ).select("doc_id", "lang", "score", "bucket")


# ===========================================================================
# benchmark decontamination + dataset mixing
# ===========================================================================

@register(
    "dec1_decontamination",
    r"""
    WITH ws AS (
      SELECT doc_id,
             list_transform(regexp_split_to_array(trim(text), '\s+'),
                            w -> lower(w)) AS w
      FROM documents WHERE text IS NOT NULL
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(w) - 6),
                    i -> array_to_string(w[i:i+7], ' '))) AS s
      FROM ws
    ),
    bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0),
    hits AS (SELECT DISTINCT sh.doc_id FROM sh JOIN bench USING (s))
    SELECT d.doc_id, (h.doc_id IS NOT NULL) AS contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
    WHERE d.text IS NOT NULL
    """,
)
def dec1_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag docs sharing any 8-word shingle
    with the held-out set (here the deterministic doc_id%50 slice stands
    in for an external benchmark table). Broadcast the benchmark's
    distinct shingle hashes, semi-join the corpus's exploded shingles,
    fold back a thin hit set (operators/decontaminate.py). Reference
    analog: known-bad suppression, config.yml:58-62 — generalized from
    ids to content n-grams."""
    from gemproc2caom2_spark.operators.decontaminate import mark_contaminated

    d = load(spark, sf_dir, "documents", spread=True).where(
        F.col("text").isNotNull()
    )
    bench = d.where(F.col("doc_id") % 50 == 0)
    return mark_contaminated(d, bench, text_col="text", id_col="doc_id", k=8).select(
        "doc_id", "contaminated"
    )


@register(
    "mix1_domain_quota",
    """
    SELECT doc_id, source, sample_rank FROM (
      SELECT doc_id, source,
             CAST(row_number() OVER (PARTITION BY source
                              ORDER BY md5(doc_id::VARCHAR)) AS INT)
               AS sample_rank
      FROM documents
    ) WHERE sample_rank <= 40
    """,
)
def mix1_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset mixing: deterministic per-source quota sampling (at most
    40 docs per source, selected by md5-of-id order so reruns and the
    oracle pick the identical subset — operators/mixing.py). The
    training-mixture counterpart of the reference's per-collection
    todo lists (config.yml:64-73)."""
    from gemproc2caom2_spark.operators.mixing import domain_quota

    d = load(spark, sf_dir, "documents", spread=True)
    return domain_quota(d, group_col="source", id_col="doc_id", quota=40).select(
        "doc_id", "source", "sample_rank"
    )


@register(
    "dd6_boilerplate_lines",
    """
    WITH base AS (
      SELECT doc_id,
             list_filter(list_transform(string_split(text, chr(10)),
                                        x -> trim(x)),
                         x -> x <> '') AS ls
      FROM documents WHERE text IS NOT NULL
    ),
    ln AS (
      SELECT doc_id, unnest(ls) AS line,
             unnest(range(1, len(ls) + 1)) AS pos
      FROM base
    ),
    boiler AS (
      SELECT line FROM ln GROUP BY line
      HAVING count(DISTINCT doc_id) >= 2
    ),
    rebuilt AS (
      SELECT ln.doc_id,
             string_agg(ln.line, chr(10) ORDER BY ln.pos) AS clean_text
      FROM ln ANTI JOIN boiler USING (line)
      GROUP BY ln.doc_id
    )
    SELECT b.doc_id, coalesce(r.clean_text, '') AS clean_text
    FROM base b LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def dd6_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level line dedup (CCNet/RefinedWeb boilerplate removal):
    lines appearing in >= 2 distinct docs are dropped from every doc and
    the text is rebuilt in order (operators/dedup.py
    remove_boilerplate_lines — hashes on the shuffle, two-phase distinct
    agg, per-doc bounded fold-back)."""
    from gemproc2caom2_spark.operators.dedup import remove_boilerplate_lines

    d = load(spark, sf_dir, "documents", spread=True)
    return remove_boilerplate_lines(d, text_col="text", id_col="doc_id", min_df=2)


@register(
    "pack1_sequence_packing",
    r"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(coalesce(length(regexp_extract_all(text, '\S+')), 0)
                  AS BIGINT) AS n_tokens
      FROM documents WHERE text IS NOT NULL
    ),
    c AS (
      SELECT doc_id, source, n_tokens,
             coalesce(sum(n_tokens) OVER (
               PARTITION BY source ORDER BY md5(doc_id::VARCHAR)
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ce
      FROM t
    )
    SELECT doc_id, source, n_tokens,
           CAST(ce // 512 AS BIGINT) AS seq_id
    FROM c
    """,
)
def pack1_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining sequence packing: docs fill fixed 512-token-budget
    sequences per source shard in deterministic md5-of-id order
    (operators/mixing.sequence_packing — exclusive prefix-sum window,
    doc boundaries respected, reruns and the oracle assign identical
    sequences)."""
    from gemproc2caom2_spark.operators.mixing import sequence_packing

    d = load(spark, sf_dir, "documents", spread=True)
    return sequence_packing(
        d, text_col="text", id_col="doc_id", group_col="source", budget=512
    )


@register(
    "tx9_doc_keywords",
    r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      FROM documents WHERE text IS NOT NULL AND trim(lower(text)) <> ''
    ),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
    docfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM toks),
    scored AS (
      SELECT tf.doc_id, tf.token,
             round(tf.tf * ln(n.n_docs::DOUBLE / docfreq.df), 6) AS tfidf_r6
      FROM tf JOIN docfreq USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, tfidf_r6, rank FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                       ORDER BY tfidf_r6 DESC, token ASC) AS BIGINT) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def tx9_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF keyword extraction (top-3, engine-stable
    ranking: scores rounded to 6 dp before the window so a 1-ulp ln()
    difference cannot flip ranks; ties by token). The tagging step of a
    curation pipeline — operators/vocab.doc_keywords."""
    from gemproc2caom2_spark.operators.vocab import doc_keywords

    d = load(spark, sf_dir, "documents", spread=True)
    return doc_keywords(d, text_col="text", id_col="doc_id", k=3)


def _tx10_oracle_sql() -> str:
    """DuckDB rendering of repetition_struct: same capped tokenization
    as the minhash shingles (_SQL_WORDS over the ANALYSIS_CAP prefix),
    same rounded-before-compare duplicate fractions."""
    from gemproc2caom2_spark.operators.heuristics import REPETITION_THRESHOLDS

    ws = f"regexp_split_to_array(trim(lower(substring(text, 1, {ANALYSIS_CAP}))), '\\s+')"
    cols, flags = [], []
    for k in (2, 3, 4):
        parts = " || ' ' || ".join(f"ws[i + {j}]" for j in range(k))
        g = f"list_transform(range(1, greatest(len(ws) - {k - 1}, 0) + 1), i -> {parts})"
        cols.append(f"len({g})::BIGINT AS n_{k}grams")
        cols.append(
            f"CASE WHEN len({g}) > 0 THEN round(1.0 - len(list_distinct({g}))::DOUBLE / len({g}), 6) END AS dup_{k}gram_frac"
        )
        flags.append(
            f"coalesce(dup_{k}gram_frac > {REPETITION_THRESHOLDS[k]}, false)"
        )
    return f"""
    WITH w AS (
      SELECT doc_id,
             CASE WHEN text IS NULL THEN []::VARCHAR[] ELSE {ws} END AS ws
      FROM documents),
    m AS (SELECT doc_id, {", ".join(cols)} FROM w)
    SELECT *, ({" OR ".join(flags)}) AS is_repetitive FROM m
    """


@register("tx10_repetition_metrics", _tx10_oracle_sql())
def tx10_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc repetition metrics (Gopher duplicate-n-gram family):
    per doc, 2/3/4-gram totals, duplicate fractions, and the combined
    is_repetitive flag over the ANALYSIS_CAP prefix — still a map-only
    stage (no shuffle), but the metric core runs as ONE Arrow kernel
    (heuristics.repetition_struct_arrow): the Column form's three
    interpreted zip_with/array_distinct passes were ~15M lambda
    evaluations at sf1.0 and the query's entire cost. Rounding and the
    threshold flags remain Column exprs; kernel-vs-Column equality is
    pinned by tests/test_functions.py."""
    from gemproc2caom2_spark.operators.heuristics import repetition_struct_arrow

    d = load(spark, sf_dir, "documents", spread=True)
    return d.select("doc_id", repetition_struct_arrow("text").alias("r")).select(
        "doc_id", "r.*"
    )


@register(
    "tx11_compression_ratio",
    f"""
    SELECT doc_id, ratio_r6 AS ratio
    FROM read_parquet('{_ZRATIO_FIXTURE}') fx
    WHERE fx.corpus_md5 = (SELECT md5(string_agg(md5(coalesce(text, '')),
                                                 '' ORDER BY doc_id))
                           FROM documents)
    """,
)
def tx11_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deflate-compressibility quality signal (the gzip-ratio filter
    run next to the Gopher repetition family — catches long-range
    boilerplate repetition the capped n-gram window misses). zlib at a
    fixed level is deterministic, so the independent-Python fixture
    (tests/gen_fixtures.py _gen_compression_ratio, keyed by corpus
    fingerprint) pins the Arrow plumbing byte-for-byte — the same
    fixture protocol as bpe2/cur3."""
    from gemproc2caom2_spark.operators.heuristics import (
        make_compression_ratio_udf,
    )

    d = load(spark, sf_dir, "documents", spread=True)
    return d.select(
        "doc_id",
        F.round(make_compression_ratio_udf()(F.col("text")), 6).alias("ratio"),
    )


@register(
    "bpe1_merge_train",
    f"""
    SELECT rank, lhs, rhs, merged, pair_freq
    FROM read_parquet('{_BPE_FIXTURE}') fx
    WHERE fx.corpus_md5 = (SELECT md5(string_agg(md5(coalesce(text, '')),
                                                 '' ORDER BY doc_id))
                           FROM documents)
    """,
)
def bpe1_merge_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training (40 merge rounds) over the corpus — the
    merge loop vocabulary() stops short of (operators/bpe.py: one
    corpus-sized wordcount shuffle, then vocab-sized pair-count rounds
    with a 1-row argmax each and localCheckpoint lineage truncation).
    The oracle is the INDEPENDENT pure-Python trainer's pinned output
    (tests/gen_fixtures.py _gen_bpe_merges), keyed by corpus
    fingerprint — the same train-store-probe fixture protocol as
    sim4/tx8. Deterministic tie-break (freq desc, lhs asc, rhs asc)
    makes the merge list engine-invariant."""
    from gemproc2caom2_spark.operators.bpe import merges_df, train_bpe

    d = load(spark, sf_dir, "documents", spread=True)
    return merges_df(spark, train_bpe(d, text_col="text", num_merges=40))


@register(
    "bpe2_encode",
    f"""
    SELECT doc_id, n_tokens, tokens_md5
    FROM read_parquet('{_BPE_ENCODE_FIXTURE}') fx
    WHERE fx.corpus_md5 = (SELECT md5(string_agg(md5(coalesce(text, '')),
                                                 '' ORDER BY doc_id))
                           FROM documents)
    """,
)
def bpe2_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full tokenizer train->encode composition from text: train the 40
    merges (bpe1's trainer), then greedy lowest-rank BPE inference per
    doc (operators/bpe.encode_bpe, Arrow-batched; the merge table rides
    in the UDF closure — the broadcast-model pattern). Output per doc:
    token count + md5 of the \\x1f-joined token stream, compared against
    the INDEPENDENT pure-Python encoder's pinned fixture
    (tests/gen_fixtures.py _gen_bpe_encoded), keyed by corpus
    fingerprint. Completes the tokenizer-training tier: bpe1 pins the
    learned model, bpe2 pins its application."""
    from gemproc2caom2_spark.operators.bpe import encode_bpe, train_bpe

    d = load(spark, sf_dir, "documents", spread=True)
    merges = train_bpe(d, text_col="text", num_merges=40)
    enc = encode_bpe(d.where(F.col("text").isNotNull()), merges)
    return enc.select(
        "doc_id",
        F.size("bpe_tokens").cast("long").alias("n_tokens"),
        F.md5(F.encode(F.concat_ws("\x1f", "bpe_tokens"), "utf-8")).alias(
            "tokens_md5"
        ),
    )


# ===========================================================================
# streaming cross-batch near-dup (ST2's strongest capability, driver row)
# ===========================================================================


def _st2_band_sql() -> str:
    """DuckDB rendering of the 4-band x 4-row grouping of the 16-perm
    hex15 minhash: band bucket = hex15(band || ':' || the 4 perm values
    joined with '_') — string-identical in both engines because the
    perm values are bigints cast to string."""
    bands = []
    for b in range(4):
        parts = " || '_' || ".join(f"mins[{4 * b + i + 1}]" for i in range(4))
        s = f"'{b}:' || {parts}"
        bands.append(hex15_hash_sql(f"({s})"))
    return "[" + ", ".join(bands) + "]"


def _st2_oracle_sql() -> str:
    """Batch SQL replica of the streaming two-batch run: batch 0 = even
    doc_ids, batch 1 = odd. A doc is a duplicate iff any of its band
    buckets (a) was committed by batch 0 and the doc is in batch 1, or
    (b) holds a smaller doc_id within the doc's own batch — exactly
    near_dup_stream's state.exists / batch-local-min semantics."""
    return f"""
    WITH w AS (
      SELECT doc_id, {_SQL_WORDS} AS ws FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(ws) - 1, 0) + 1),
               i -> ws[i] || ' ' || ws[i + 1])) AS shingles
      FROM w),
    hs AS (
      SELECT doc_id, list_transform(shingles, s -> {_SH}) AS hs
      FROM sh WHERE len(shingles) > 0),
    pm AS (
      SELECT doc_id, {_MINS} AS mins FROM hs),
    bands AS (
      SELECT doc_id, unnest({_st2_band_sql()}) AS bucket FROM pm),
    b0 AS (SELECT bucket, min(doc_id) AS m FROM bands
           WHERE doc_id % 2 = 0 GROUP BY bucket),
    b1 AS (SELECT bucket, min(doc_id) AS m FROM bands
           WHERE doc_id % 2 = 1 GROUP BY bucket),
    fl AS (
      SELECT d.doc_id,
             bool_or(CASE WHEN d.doc_id % 2 = 0
                          THEN coalesce(z.m < d.doc_id, false)
                          ELSE (z.m IS NOT NULL)
                               OR coalesce(o.m < d.doc_id, false)
                     END) AS is_duplicate
      FROM bands d
      LEFT JOIN b0 z USING (bucket)
      LEFT JOIN b1 o USING (bucket)
      GROUP BY d.doc_id)
    SELECT doc.doc_id, coalesce(fl.is_duplicate, false) AS is_duplicate
    FROM documents doc LEFT JOIN fl USING (doc_id)
    """


def _st2_bands_expr() -> "F.Column":
    """Spark twin of _st2_band_sql over lower(text) 2-word shingles:
    array<bigint> of 4 band bucket keys, null when the doc has no
    shingles (single-word/empty/null text -> not a dedup candidate)."""
    shingles = TX.word_shingles(F.lower(F.col("text")), k=2)
    hashes = F.transform(F.array_distinct(shingles), hex15_hash)

    # hex15 hashes are non-negative, so minhash_perm's pmod equals the
    # oracle's %
    sig = minhash_signature_sql(F.col("_hs"), 16)

    def band(b: int):
        parts = []
        for i in range(4):
            if i:
                parts.append(F.lit("_"))
            parts.append(sig[4 * b + i].cast("string"))
        return hex15_hash(F.concat(F.lit(f"{b}:"), *parts))

    bands = F.array(*[band(b) for b in range(4)])
    return F.when(F.size("_hs") > 0, bands), hashes


@register("st2_stream_near_dup", _st2_oracle_sql())
def st2_stream_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch streaming near-dup — an ACTUAL Structured Streaming
    run (applyInPandasWithState, Trigger.AvailableNow): the corpus is
    split into two parquet files (even doc_ids first, mtime-staggered so
    the file source orders them), streamed one file per micro-batch
    through near_dup_stream's bucket-keyed state, and the per-batch
    fold_bucket_verdicts results are collected. The oracle replays the
    identical two-batch semantics as batch SQL (earlier-batch bucket
    wins unconditionally; within a batch the min doc_id per bucket
    survives). Reference analog: ST2 persisted-state incremental runs
    (/root/reference/config/config.yml:73) with V4 drop-rule semantics.
    """
    import os as _osm
    import shutil
    import tempfile
    import time

    from gemproc2caom2_spark.streaming.stateful import (
        fold_bucket_verdicts,
        near_dup_stream,
    )

    d = load(spark, sf_dir, "documents", spread=True)
    bands, hashes = _st2_bands_expr()
    src_rows = d.select(
        "doc_id", hashes.alias("_hs")
    ).select("doc_id", bands.alias("lsh_bands"))

    root = tempfile.mkdtemp(prefix="gemproc_st2_")
    in_dir = _osm.path.join(root, "in")
    ckpt = _osm.path.join(root, "ckpt")
    try:
        src_rows.where(F.col("doc_id") % 2 == 0).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        first_files = [
            _osm.path.join(in_dir, f)
            for f in _osm.listdir(in_dir)
            if f.endswith(".parquet")
        ]
        past = time.time() - 120
        for f in first_files:
            _osm.utime(f, (past, past))
        src_rows.where(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

        stream = (
            spark.readStream.schema(src_rows.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        collected: list[tuple[int, bool]] = []

        def sink(batch_df, _batch_id):
            for r in (
                fold_bucket_verdicts(batch_df, key_col="doc_id")
                .select("doc_id", "is_duplicate")
                .collect()
            ):
                collected.append((r.doc_id, bool(r.is_duplicate)))

        q = (
            near_dup_stream(stream, key_col="doc_id")
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.createDataFrame(
            collected, "doc_id long, is_duplicate boolean"
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


_MIX2_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}
_MIX2_DEFAULT = 0.05


def _mix2_oracle_sql() -> str:
    h = hex15_hash_sql("('wsample:' || doc_id::VARCHAR)")
    whens = " ".join(
        f"WHEN '{s}' THEN {int(round(r * 1000000))}"
        for s, r in sorted(_MIX2_RATES.items())
    )
    return f"""
    SELECT doc_id, source
    FROM documents
    WHERE ({h} % 1000000) <
          (CASE source {whens} ELSE {int(round(_MIX2_DEFAULT * 1000000))} END)
    """


_MIX4_COS = (
    "list_sum(list_transform(range(1, len(e.embedding) + 1), "
    "i -> e.embedding[i]::DOUBLE * cent.cvec[i]::DOUBLE)) / "
    "(sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1), "
    "i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))) * "
    "sqrt(list_sum(list_transform(range(1, len(cent.cvec) + 1), "
    "i -> cent.cvec[i]::DOUBLE * cent.cvec[i]::DOUBLE))))"
)


@register(
    "mix4_cluster_quota",
    f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding AS cvec FROM embeddings
      WHERE vec_id < 8),
    sc AS (
      SELECT e.vec_id, cent.cid, {_MIX4_COS} AS c
      FROM embeddings e CROSS JOIN cent),
    asg AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY c DESC, cid ASC) AS rn
        FROM sc) WHERE rn = 1),
    q AS (
      SELECT vec_id, cid,
             CAST(row_number() OVER (PARTITION BY cid
                                     ORDER BY md5(vec_id::VARCHAR)) AS INT)
               AS sample_rank
      FROM asg)
    SELECT vec_id, cid AS cell, sample_rank FROM q WHERE sample_rank <= 50
    """,
)
def mix4_cluster_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-balanced sampling: quota per EMBEDDING CLUSTER instead of
    per source — cap each semantic neighborhood's contribution so one
    over-represented topic can't dominate the mixture (the cluster-level
    twin of mix1's domain quota; DoReMi/D4-style diversity control built
    from parts this engine already has). Assignment is the IVF coarse
    quantizer (seeded deterministic centroids, the sim3 protocol; the
    sequential-exact Arrow kernel np_seq_ivf_cells_udf), then the
    deterministic md5-order quota selector. Scale shape: assignment is
    map-side (centroid matrix in the kernel closure), quota is one
    window per cell."""
    from gemproc2caom2_spark.operators.mixing import domain_quota
    from gemproc2caom2_spark.operators.similarity import np_seq_ivf_cells_udf

    emb = load(spark, sf_dir, "embeddings", spread=True)
    rows = (
        emb.where(F.col("vec_id") < 8).select("vec_id", "embedding").collect()
    )
    centroids = {int(r[0]): [float(x) for x in r[1]] for r in rows}
    assigned = emb.select(
        "vec_id",
        np_seq_ivf_cells_udf(centroids, 1)(F.col("embedding"))[0]
        .cast("long")
        .alias("cell"),
    )
    return domain_quota(
        assigned, group_col="cell", id_col="vec_id", quota=50
    ).select("vec_id", "cell", "sample_rank")


@register("mix2_weighted_sample", _mix2_oracle_sql())
def mix2_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-rate sampling: deterministic per-source Bernoulli keep
    (hex15 residue vs per-source basis points — operators/mixing.py
    weighted_sample). Map-side only, no shuffle, rerun/oracle-stable;
    the proportional re-weighting step (Llama/Gopher mixtures) next to
    mix1's hard quota."""
    from gemproc2caom2_spark.operators.mixing import weighted_sample

    d = load(spark, sf_dir, "documents", spread=True)
    return weighted_sample(
        d, rates=_MIX2_RATES, default_rate=_MIX2_DEFAULT
    ).select("doc_id", "source")


@register(
    "mix3_token_budget",
    f"""
    WITH sc AS (
      SELECT doc_id, source, tokens,
             round(length(text)::DOUBLE / tokens, 2) AS quality
      FROM (SELECT doc_id, source, text, {_TOKENS_SQL} AS tokens
            FROM documents)
      WHERE tokens > 0),
    r AS (
      SELECT doc_id, source, tokens, quality,
             coalesce(sum(tokens) OVER (
               PARTITION BY source
               ORDER BY quality DESC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
               AS cum_before
      FROM sc)
    SELECT doc_id, source, tokens, quality, cum_before,
           (cum_before < 5000) AS selected
    FROM r
    """,
)
def mix3_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection: each source contributes its
    best-quality documents (mean word length desc, discretized) until
    5000 tokens are taken — the 'top N tokens per source' step a
    mixture spec ends with (operators/mixing.py
    token_budget_selection: exclusive prefix sum, exact long
    arithmetic, deterministic order)."""
    from gemproc2caom2_spark.operators.mixing import token_budget_selection

    d = load(spark, sf_dir, "documents", spread=True)
    tokens = TX.token_count_ws("text")
    sc = d.select(
        "doc_id",
        "source",
        tokens.alias("tokens"),
        F.round(F.length("text").cast("double") / tokens, 2).alias("quality"),
    ).where(F.col("tokens") > 0)
    return token_budget_selection(
        sc,
        tokens_col="tokens",
        quality_col="quality",
        group_col="source",
        id_col="doc_id",
        budget=5000,
    ).select("doc_id", "source", "tokens", "quality", "cum_before", "selected")


# ===========================================================================
# blocklist filtering / training order / frequency resampling
# ===========================================================================

_TX12_BLOCKED = ("src13", "src3", "src7")
_TX12_BADWORDS = ("casino", "dup")


@register(
    "tx12_blocklist_filter",
    f"""
    SELECT doc_id, source,
           (source IN {_TX12_BLOCKED!r}) AS blocked_domain,
           regexp_matches(lower(text), '\\b(casino|dup)\\b') AS has_badword,
           (NOT (source IN {_TX12_BLOCKED!r})
            AND NOT regexp_matches(lower(text), '\\b(casino|dup)\\b')) AS keep
    FROM documents
    """,
)
def tx12_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain blocklist + lexicon filter (C4's badwords/host gate; the
    reference's known-bad suppression, composable.py:119-133, as a
    broadcast dimension). Both gates map-side: broadcast left-join flag
    + one word-boundary JVM regex pass — zero shuffles added to the
    scan (operators/filters.py)."""
    from gemproc2caom2_spark.operators.filters import blocklist_filter

    d = load(spark, sf_dir, "documents", spread=True)
    return blocklist_filter(
        d, blocked_domains=_TX12_BLOCKED, badwords=_TX12_BADWORDS
    ).select("doc_id", "source", "blocked_domain", "has_badword", "keep")


_SHUF1_DRAW = hex15_hash_sql("('torder:' || doc_id::VARCHAR)")


@register(
    "shuf1_training_order",
    f"""
    WITH d AS (
      SELECT doc_id, {_SHUF1_DRAW} AS draw FROM documents)
    SELECT doc_id, CAST(draw % 8 AS INT) AS shard,
           CAST(row_number() OVER (PARTITION BY draw % 8
                                   ORDER BY draw ASC, doc_id ASC) AS BIGINT)
             AS pos
    FROM d
    """,
)
def shuf1_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training order: (shard, pos)
    from a keyed hash — the distributed 'shuffle the corpus before
    training' step, resumable at an exact offset (operators/mixing.py
    training_order: one shuffle on shard, per-shard sort of corpus/S
    rows, no skew by construction)."""
    from gemproc2caom2_spark.operators.mixing import training_order

    d = load(spark, sf_dir, "documents", spread=True)
    return training_order(d, id_col="doc_id", shards=8).select(
        "doc_id", "shard", "pos"
    )


@register(
    "mix5_frequency_resample",
    f"""
    WITH b AS (
      SELECT doc_id, n_chars // 100 AS bucket FROM documents),
    c AS (SELECT bucket, count(*) AS bc FROM b GROUP BY 1),
    m AS (SELECT min(bc) AS minc FROM c),
    r AS (SELECT bucket, (minc * 1000000) // bc AS accept_bp FROM c, m)
    SELECT b.doc_id, b.bucket, r.accept_bp
    FROM b JOIN r USING (bucket)
    WHERE ({hex15_hash_sql("('qres:' || doc_id::VARCHAR)")} % 1000000)
          < accept_bp
    """,
)
def mix5_frequency_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance resampling toward a uniform bucket distribution
    (DSIR/DoReMi's target/actual re-weighting, clamped to a pure
    subsample): over-represented length buckets are down-sampled to the
    rarest bucket's count via an exact-arithmetic deterministic residue
    draw (operators/mixing.py frequency_resample: groupBy count +
    broadcast rate join, no corpus shuffle, no window)."""
    from gemproc2caom2_spark.operators.mixing import frequency_resample

    d = load(spark, sf_dir, "documents", spread=True)
    b = d.select("doc_id", F.expr("n_chars DIV 100").alias("bucket"))
    return frequency_resample(b, bucket_col="bucket", id_col="doc_id").select(
        "doc_id", "bucket", "accept_bp"
    )


# ===========================================================================
# Crawl-corpus maintenance: URL canonicalization, recrawl versioning,
# deterministic holdout split (operators/crawl.py, operators/mixing.py)
# ===========================================================================

from gemproc2caom2_spark.functions.hashing import url_normalize_sql as _un_sql
from gemproc2caom2_spark.operators.crawl import canonicalize_url_sql as _cu_sql

# messy-raw-url synthesis shared (structurally) by the Spark query and
# the oracle: scheme/port/trailing-slash/param-order/fragment variants
# cycle deterministically by doc_id residues
_URL1_RAW_SQL = """
    (CASE doc_id % 3 WHEN 0 THEN 'HTTP://WWW.' WHEN 1 THEN 'http://www.'
        ELSE 'https://' END)
    || source || '.Example.com'
    || (CASE WHEN doc_id % 7 = 0 THEN ':80' ELSE '' END)
    || '/Page/' || doc_id::VARCHAR
    || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
    || (CASE doc_id % 4 WHEN 0 THEN '?utm_source=feed&b=2&a=1'
        WHEN 1 THEN '?b=2&a=1&utm_campaign=x'
        WHEN 2 THEN '?a=1&b=2&gclid=abc' ELSE '' END)
    || (CASE WHEN doc_id % 5 = 0 THEN '#Section-2' ELSE '' END)
"""


@register(
    "url1_canonicalize",
    f"""
    WITH r AS (SELECT doc_id, {_URL1_RAW_SQL} AS url_raw FROM documents),
    n AS (SELECT doc_id, url_raw, {_un_sql("url_raw")} AS norm FROM r),
    c AS (SELECT doc_id, url_raw, {_cu_sql("norm")} AS url_canon FROM n)
    SELECT doc_id, url_raw, url_canon,
           {hex15_hash_sql("url_canon")} AS url_key
    FROM c
    """,
)
def url1_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full crawl-URL canonicalization: case/port/fragment/slash
    normalization + www-fold + tracking-param strip + query-param sort
    (operators/crawl.py canonicalize_url). The reference's entry-name
    repair (builder.py:149-153) as the key-making step of URL dedup.
    Pure codegen'd Column chain — zero shuffles beyond the spread, zero
    Python. spread=True matters here: the plan is map-only, so without
    it the whole regex chain ran inside the single-split scan task
    (serial; measured 3.8 s -> sub-second at sf1.0)."""
    from gemproc2caom2_spark.operators.crawl import canonicalize_url

    d = load(spark, sf_dir, "documents", spread=True)
    did = F.col("doc_id")
    raw = F.concat(
        F.when(did % 3 == 0, "HTTP://WWW.")
        .when(did % 3 == 1, "http://www.")
        .otherwise("https://"),
        F.col("source"),
        F.lit(".Example.com"),
        F.when(did % 7 == 0, ":80").otherwise(""),
        F.lit("/Page/"),
        did.cast("string"),
        F.when(did % 2 == 0, "/").otherwise(""),
        F.when(did % 4 == 0, "?utm_source=feed&b=2&a=1")
        .when(did % 4 == 1, "?b=2&a=1&utm_campaign=x")
        .when(did % 4 == 2, "?a=1&b=2&gclid=abc")
        .otherwise(""),
        F.when(did % 5 == 0, "#Section-2").otherwise(""),
    )
    canon = canonicalize_url(raw)
    return d.select(
        "doc_id",
        raw.alias("url_raw"),
        canon.alias("url_canon"),
        hex15_hash(canon).alias("url_key"),
    )


@register(
    "snap1_recrawl_latest",
    f"""
    WITH c AS (
      SELECT doc_id, doc_id // 2 AS url_id,
             1600000000 + doc_id * 3600 AS crawl_ts,
             {hex15_hash_sql("('fp:' || CASE WHEN doc_id % 4 < 2 THEN 's' || (doc_id // 2)::VARCHAR ELSE 'v' || doc_id::VARCHAR END)")} AS fp
      FROM documents),
    w AS (
      SELECT *,
             row_number() OVER (PARTITION BY url_id
                                ORDER BY crawl_ts DESC, doc_id DESC) AS rn,
             lead(fp) OVER (PARTITION BY url_id
                            ORDER BY crawl_ts DESC, doc_id DESC) AS prev_fp,
             count(*) OVER (PARTITION BY url_id) AS n_crawls
      FROM c)
    SELECT url_id, doc_id, crawl_ts, n_crawls,
           coalesce(fp <> prev_fp, false) AS changed
    FROM w WHERE rn = 1
    """,
)
def snap1_recrawl_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl versioning: collapse a two-crawl corpus to the newest
    fetch per url with fetch count + changed flag
    (operators/crawl.py latest_crawl_wins) — the reference's
    only-reprocess-changed-entries todo diffing (composable.py:119-133)
    as a single url-keyed window. One shuffle; per-url state bounded by
    the recrawl count."""
    from gemproc2caom2_spark.operators.crawl import latest_crawl_wins

    d = load(spark, sf_dir, "documents")
    did = F.col("doc_id")
    crawls = d.select(
        did.alias("doc_id"),
        F.expr("doc_id DIV 2").alias("url_id"),
        (F.lit(1600000000) + did * 3600).cast("bigint").alias("crawl_ts"),
        hex15_hash(
            F.concat(
                F.lit("fp:"),
                F.when(
                    did % 4 < 2,
                    F.concat(F.lit("s"), F.expr("doc_id DIV 2").cast("string")),
                ).otherwise(F.concat(F.lit("v"), did.cast("string"))),
            )
        ).alias("fp"),
    )
    return latest_crawl_wins(
        crawls, url_col="url_id", ts_col="crawl_ts", fp_col="fp"
    ).select("url_id", "doc_id", "crawl_ts", "n_crawls", "changed")


@register(
    "split1_holdout",
    f"""
    SELECT doc_id, source,
           CASE WHEN {hex15_hash_sql("('split:' || doc_id::VARCHAR)")} % 10000 < 9000 THEN 'train'
                WHEN {hex15_hash_sql("('split:' || doc_id::VARCHAR)")} % 10000 < 9500 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def split1_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by keyed-hash residue
    (operators/mixing.py holdout_split): stable under corpus growth,
    rerun-identical, auditor-reproducible. Map-only codegen — the
    100-TB plan is the same plan."""
    from gemproc2caom2_spark.operators.mixing import holdout_split

    d = load(spark, sf_dir, "documents")
    return holdout_split(d, id_col="doc_id").select(
        "doc_id", "source", "split"
    )


@register(
    "chunk1_sliding_window",
    """
    WITH n AS (
      SELECT doc_id, text,
             CASE WHEN length(text) <= 500 THEN 1
                  ELSE 1 + (length(text) - 500 + 399) // 400 END AS nc
      FROM documents),
    e AS (SELECT doc_id, text, unnest(range(0, nc)) AS chunk_id FROM n)
    SELECT doc_id, chunk_id,
           substring(text, (chunk_id * 400 + 1)::INT, 500) AS chunk
    FROM e
    """,
)
def chunk1_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: overlapping character windows
    (size 500, stride 400) per document, exact long arithmetic for the
    window count (operators/mixing.py sliding_chunks). Map-side
    sequence+explode+substring inside codegen — no shuffle; output
    scales as corpus_chars/stride."""
    from gemproc2caom2_spark.operators.mixing import sliding_chunks

    d = load(spark, sf_dir, "documents", spread=True)
    return sliding_chunks(d, size=500, stride=400).select(
        "doc_id", "chunk_id", "chunk"
    )


@register(
    "idx1_inverted_index",
    r"""
    WITH base AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      FROM documents WHERE text IS NOT NULL AND trim(lower(text)) <> ''),
    toks AS (
      SELECT doc_id,
             unnest(CASE WHEN len(toks) >= 3
                    THEN list_transform(range(1, len(toks) - 1),
                         i -> array_to_string(list_slice(toks, i, i + 2), ' '))
                    ELSE []::VARCHAR[] END) AS token
      FROM base),
    pairs AS (SELECT DISTINCT doc_id, token FROM toks),
    dfr AS (
      SELECT token, count(*) AS df FROM pairs
      GROUP BY token HAVING count(*) <= 50)
    SELECT p.token, dfr.df::BIGINT AS df,
           string_agg(p.doc_id::VARCHAR, ',' ORDER BY p.doc_id) AS postings
    FROM pairs p JOIN dfr USING (token)
    GROUP BY p.token, dfr.df
    """,
)
def idx1_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted PHRASE index (trigram -> df + sorted posting string)
    for phrases under a df cap — two-phase by construction so no
    hot-phrase posting list ever materializes (operators/vocab.py
    inverted_index: df filter BEFORE any collect state; both shuffles
    hash on the phrase). Trigram granularity because this corpus's
    unigram vocabulary is tiny (31 tokens, all over the cap) — the
    phrase index is also the quotation-lookup structure dedup
    forensics wants."""
    from gemproc2caom2_spark.operators.vocab import inverted_index

    d = load(spark, sf_dir, "documents", spread=True)
    return inverted_index(
        d, text_col="text", id_col="doc_id", max_df=50, ngram=3
    )


def _eval1_oracle_sql() -> str:
    from gemproc2caom2_spark.operators.classifier import feature_sql, logit_sql

    logit = logit_sql(
        "fx",
        feature_sql("p.doc_len", "p.n_words", "p.symbol_ratio",
                    "p.repeated_line_frac", "p.rare_char_ratio"),
    )
    pr = "(tp / nullif(tp + fp, 0))"
    rc = "(tp / nullif(tp + fn, 0))"
    return (
        _VERDICT_CTES
        + f"""
    , lbl AS (SELECT doc_id, (drop_reason IS NULL) AS keep FROM p),
    mdl AS (
      SELECT p.doc_id, ({logit} > 0) AS mk
      FROM p CROSS JOIN read_parquet('{_QLR_FIXTURE}') fx
      WHERE p.text IS NOT NULL AND p.doc_len > 0),
    j AS (SELECT lbl.keep AS keep, coalesce(mdl.mk, false) AS mk
          FROM lbl LEFT JOIN mdl USING (doc_id)),
    agg AS (SELECT
      sum(CASE WHEN keep AND mk THEN 1 ELSE 0 END)::BIGINT AS tp,
      sum(CASE WHEN (NOT keep) AND mk THEN 1 ELSE 0 END)::BIGINT AS fp,
      sum(CASE WHEN keep AND NOT mk THEN 1 ELSE 0 END)::BIGINT AS fn,
      sum(CASE WHEN (NOT keep) AND NOT mk THEN 1 ELSE 0 END)::BIGINT AS tn
      FROM j)
    SELECT tp, fp, fn, tn,
           round({pr}, 6) AS precision_r6,
           round({rc}, 6) AS recall_r6,
           round(2 * {pr} * {rc} / nullif({pr} + {rc}, 0), 6) AS f1_r6
    FROM agg
    """
    )


@register("eval1_keep_drop_f1", _eval1_oracle_sql())
def eval1_keep_drop_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-star acceptance metric computed BY the engine: F1 of
    the trained quality classifier's keep/drop against the full rule
    pipeline's verdict (reference labels), as one corpus scan + a
    4-counter global aggregate (operators/classifier.py confusion_f1).
    Mirrors the reference's fixture-assert acceptance
    (tests/test_main_app.py:171-186) as a distributed evaluation."""
    from gemproc2caom2_spark.operators.classifier import (
        confusion_f1,
        quality_logit_expr,
    )
    from gemproc2caom2_spark.plans.pipeline import curate

    labels = curate(
        _as_pages(load(spark, sf_dir, "documents")),
        # scrub does not influence keep/drop — skipping the byte-kernel
        # stage makes the evaluation pass cheaper (task_types analog)
        stages=("collapse", "extract", "langid", "heuristics", "perplexity"),
    )
    w = spark.read.parquet(_QLR_FIXTURE).first().asDict()
    # The classifier's features ARE curate's quality struct (same capped
    # metrics, same exact doc_len), so the model prediction is a Column
    # over the labels frame — the r5 plan re-scanned the corpus, re-ran
    # the quality regex kernels, and shuffled a doc_id join to attach a
    # value derivable in place (guide §2.4: remove shuffles outright).
    # Gate equivalence: the old preds filter (text IS NOT NULL AND
    # length > 0) is exactly quality.doc_len > 0 (doc_len is null iff
    # text is null); a row outside the gate — or with a null logit, e.g.
    # no lines so repeated_line_frac is null — fell out of the old left
    # join and coalesced to mk=false, which when+coalesce reproduces.
    q = F.col("quality")
    mk = F.coalesce(
        F.when(q.getField("doc_len") > 0, quality_logit_expr(q, w) > 0),
        F.lit(False),
    )
    j = labels.select("keep", mk.alias("mk"))
    return confusion_f1(j, label_col="keep", pred_col="mk")


@register(
    "dd9_span_overlap",
    r"""
    WITH base AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      FROM documents WHERE text IS NOT NULL AND trim(lower(text)) <> ''),
    spans AS (
      SELECT doc_id,
             unnest(CASE WHEN len(toks) >= 8
                    THEN list_transform(range(1, len(toks) - 6),
                         i -> ('0x' || substring(md5(array_to_string(
                                  list_slice(toks, i, i + 7), ' ')), 1, 15))::BIGINT)
                    ELSE []::BIGINT[] END) AS sh
      FROM base),
    shared AS (
      SELECT sh FROM spans GROUP BY sh HAVING count(DISTINCT doc_id) >= 2)
    SELECT s.doc_id, count(*)::BIGINT AS n_spans,
           sum(CASE WHEN sh2.sh IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_shared,
           (sum(CASE WHEN sh2.sh IS NOT NULL THEN 1 ELSE 0 END) > 0)
             AS span_flagged
    FROM spans s LEFT JOIN shared sh2 USING (sh)
    GROUP BY s.doc_id
    """,
)
def dd9_span_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact dedup marking: any verbatim 8-token window
    shared by >= 2 documents flags both (operators/dedup.py
    mark_span_overlap — thin hash explode, two-phase distinct-doc
    count, fold-back; a span shared by S docs costs S rows, never
    S^2). The fourth dedup family next to MinHash/LSH, boilerplate
    lines, and n-gram Jaccard."""
    from gemproc2caom2_spark.operators.dedup import mark_span_overlap

    d = load(spark, sf_dir, "documents", spread=True)
    return mark_span_overlap(d, text_col="text", id_col="doc_id", k=8)


def _eval2_oracle_sql() -> str:
    """Recall@5 oracle composed from the ALREADY-REGISTERED sim1
    (exact) and sim3 (IVF) oracle SQLs as derived tables — the
    evaluation inherits whatever those queries' own parity checks
    pin, so one definition serves both the operator and its gate."""
    from gemproc2caom2_spark.plans.queries import oracles

    exact_sql = oracles()["sim1_cosine_topk"]
    ann_sql = oracles()["sim3_ivf_topk"]
    return f"""
    SELECT e.query_id, count(*)::BIGINT AS k,
           sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_hit,
           round(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                 / count(*), 6) AS recall_r6
    FROM ({exact_sql}) e
    LEFT JOIN ({ann_sql}) a USING (query_id, vec_id)
    GROUP BY e.query_id
    """


@register("eval2_ann_recall", _eval2_oracle_sql())
def eval2_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality gate: recall@5 of the IVF top-k (sim3) against the
    brute-force exact top-k (sim1), per query point
    (operators/similarity.py ann_recall — bounded join over two
    k-row-per-query frames; the evaluation itself costs nothing at
    scale)."""
    from gemproc2caom2_spark.operators.similarity import ann_recall

    return ann_recall(
        sim1_cosine_topk(spark, sf_dir), sim3_ivf_topk(spark, sf_dir)
    )


@register(
    "drift1_distribution_shift",
    """
    WITH b AS (
      SELECT doc_id % 2 AS cohort, n_chars // 100 AS bucket FROM documents),
    c AS (
      SELECT bucket,
             sum(CASE WHEN cohort = 0 THEN 1 ELSE 0 END)::BIGINT AS n_base,
             sum(CASE WHEN cohort = 1 THEN 1 ELSE 0 END)::BIGINT AS n_test
      FROM b GROUP BY bucket),
    t AS (SELECT *, sum(n_base) OVER () AS tb, sum(n_test) OVER () AS tt
          FROM c)
    SELECT bucket, n_base, n_test,
           round(greatest(n_base / tb, 1e-6), 6) AS p_r6,
           round(greatest(n_test / tt, 1e-6), 6) AS q_r6,
           round((greatest(n_base / tb, 1e-6) - greatest(n_test / tt, 1e-6))
                 * ln(greatest(n_base / tb, 1e-6)
                      / greatest(n_test / tt, 1e-6)), 6) AS psi_term_r6
    FROM t
    """,
)
def drift1_distribution_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability monitor: per-bucket PSI terms of the
    doc-length distribution between two corpus cohorts (even/odd doc
    ids as the A/B stand-in for calibration-crawl vs current-crawl)
    — operators/thresholds.py distribution_shift; one groupBy to a
    broadcast-sized bucket frame, totals via window over that frame,
    per-bucket terms so no cross-row float accumulation."""
    from gemproc2caom2_spark.operators.thresholds import distribution_shift

    d = load(spark, sf_dir, "documents").select(
        F.expr("doc_id % 2").alias("cohort"),
        F.expr("n_chars DIV 100").alias("bucket"),
    )
    return distribution_shift(
        d, bucket_col="bucket", cohort_col="cohort",
        base_cohort=0, test_cohort=1,
    )


@register(
    "asof1_point_in_time",
    """
    WITH probes AS (
      SELECT user_id,
             unnest([TIMESTAMP '2024-01-08 00:00:00',
                     TIMESTAMP '2024-01-16 00:00:00',
                     TIMESTAMP '2024-01-24 00:00:00']) AS probe_ts
      FROM (SELECT DISTINCT user_id FROM events))
    SELECT p.user_id, p.probe_ts, e.event_id, e.value
    FROM probes p ASOF LEFT JOIN events e
      ON p.user_id = e.user_id AND e.ts <= p.probe_ts
    """,
)
def asof1_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each user's latest event at three probe
    instants (operators/asof.py asof_join_backward — the union-window
    form, ONE shuffle of thin rows, running last() with constant
    window state; never a per-key range join). The oracle is DuckDB's
    NATIVE ASOF LEFT JOIN, so the semantics are pinned against an
    independent first-class implementation."""
    from gemproc2caom2_spark.operators.asof import asof_join_backward

    ev = load(spark, sf_dir, "events")
    probes = ev.select("user_id").distinct().select(
        "user_id",
        F.explode(
            F.array(
                *[
                    F.lit(t).cast("timestamp")
                    for t in (
                        "2024-01-08 00:00:00",
                        "2024-01-16 00:00:00",
                        "2024-01-24 00:00:00",
                    )
                ]
            )
        ).alias("probe_ts"),
    )
    return asof_join_backward(
        probes, ev,
        key_col="user_id", probe_ts_col="probe_ts", event_ts_col="ts",
        value_cols=["event_id", "value"], tiebreak_col="event_id",
    )


_RANGE1_INCIDENTS = [
    ("inc1", "2024-01-03 07:30:00", "2024-01-03 11:00:00"),
    ("inc2", "2024-01-09 13:45:00", "2024-01-09 16:05:00"),
    ("inc3", "2024-01-15 00:00:00", "2024-01-16 00:00:00"),
    ("inc4", "2024-01-21 22:10:00", "2024-01-22 03:40:00"),
    ("inc5", "2024-01-28 05:00:00", "2024-01-28 05:30:00"),
]

_RANGE1_VALUES = ", ".join(
    f"('{i}', TIMESTAMP '{s}', TIMESTAMP '{e}')"
    for i, s, e in _RANGE1_INCIDENTS
)


@register(
    "range1_interval_join",
    f"""
    WITH iv(incident_id, t_start, t_end) AS (VALUES {_RANGE1_VALUES})
    SELECT iv.incident_id, count(*)::BIGINT AS n_events,
           count(DISTINCT e.user_id)::BIGINT AS n_users,
           round(sum(e.value), 4) AS sum_value_r4
    FROM events e JOIN iv
      ON e.ts >= iv.t_start AND e.ts < iv.t_end
    GROUP BY iv.incident_id
    """,
)
def range1_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval containment join: events falling inside arbitrary
    (non-aligned) incident windows, aggregated per window — the range
    join Spark would otherwise plan as BroadcastNestedLoopJoin,
    rewritten as hour-bucket explode + hash equi-join + exact filter
    (operators/asof.py range_join_time_buckets). The oracle uses the
    plain inequality join (exact at oracle scale)."""
    from gemproc2caom2_spark.operators.asof import range_join_time_buckets

    ev = load(spark, sf_dir, "events")
    iv = spark.createDataFrame(
        _RANGE1_INCIDENTS, ["incident_id", "t_start", "t_end"]
    ).select(
        "incident_id",
        F.col("t_start").cast("timestamp").alias("t_start"),
        F.col("t_end").cast("timestamp").alias("t_end"),
    )
    joined = range_join_time_buckets(
        ev, iv, event_ts_col="ts", start_col="t_start", end_col="t_end"
    )
    return joined.groupBy("incident_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 4).alias("sum_value_r4"),
    )


@register(
    "asof2_bounded_staleness",
    """
    WITH probes AS (
      SELECT user_id,
             unnest([TIMESTAMP '2024-01-08 00:00:00',
                     TIMESTAMP '2024-01-16 00:00:00',
                     TIMESTAMP '2024-01-24 00:00:00']) AS probe_ts
      FROM (SELECT DISTINCT user_id FROM events))
    SELECT p.user_id, p.probe_ts,
           CASE WHEN (p.probe_ts - e.ts) <= INTERVAL '12' HOUR
                THEN e.event_id END AS event_id,
           CASE WHEN (p.probe_ts - e.ts) <= INTERVAL '12' HOUR
                THEN e.value END AS value
    FROM probes p ASOF LEFT JOIN events e
      ON p.user_id = e.user_id AND e.ts <= p.probe_ts
    """,
)
def asof2_bounded_staleness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness bound: the latest event per probe,
    nulled when older than 12 h (merge_asof tolerance semantics;
    operators/asof.py asof_join_backward(tolerance_seconds=...) —
    same single-shuffle union-window plan plus one running matched-ts
    column; exact microsecond arithmetic matches the oracle's
    INTERVAL comparison at the boundary)."""
    from gemproc2caom2_spark.operators.asof import asof_join_backward

    ev = load(spark, sf_dir, "events")
    probes = ev.select("user_id").distinct().select(
        "user_id",
        F.explode(
            F.array(
                *[
                    F.lit(t).cast("timestamp")
                    for t in (
                        "2024-01-08 00:00:00",
                        "2024-01-16 00:00:00",
                        "2024-01-24 00:00:00",
                    )
                ]
            )
        ).alias("probe_ts"),
    )
    return asof_join_backward(
        probes, ev,
        key_col="user_id", probe_ts_col="probe_ts", event_ts_col="ts",
        value_cols=["event_id", "value"], tiebreak_col="event_id",
        tolerance_seconds=12 * 3600,
    )
