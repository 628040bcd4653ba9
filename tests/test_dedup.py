"""Dedup operator unit tests: UDF/Column-expr parity, exact dedup,
LSH marking, jaccard pairs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gemproc2caom2_spark.functions.hashing import MERSENNE_61, minhash_signature_sql
from gemproc2caom2_spark.operators.dedup import (
    make_minhash_udf,
    make_simhash_udf,
    mark_exact_duplicates,
    mark_lsh_duplicates,
    ngram_jaccard_pairs,
    shingle_hashes_expr,
    with_minhash_signature,
    word_hex15_hashes_expr,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),  # exact dup of 1
        (3, "the quick brown fox leaps over the lazy dog again and again"),  # near dup
        (4, "completely different content about data pipelines and storage"),
        (5, None),
        (6, "short"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_udf_matches_column_expr(spark, docs):
    """The numpy Arrow path and the pure higher-order-function path must
    produce IDENTICAL signatures (same permutation constants)."""
    a = with_minhash_signature(docs, text_col="text", num_perms=16, use_udf=True)
    b = with_minhash_signature(docs, text_col="text", num_perms=16, use_udf=False)
    ra = {r.doc_id: r.minhash_sig for r in a.collect()}
    rb = {r.doc_id: r.minhash_sig for r in b.collect()}
    assert ra == rb
    assert ra[1] == ra[2]           # identical docs -> identical sigs
    assert ra[1] != ra[4]
    # null text and <k-word docs both yield null signatures (no shingles)
    assert ra[5] is None and ra[6] is None

    # hashes at the edges of the int64 range and of the M61 fold, one
    # per row and all in one row: np.mod and pmod agree bit for bit
    edges = [-(1 << 63), -1, 0, MERSENNE_61 - 1, MERSENNE_61, (1 << 63) - 1]
    rows = [(i, [h]) for i, h in enumerate(edges)] + [(len(edges), edges)]
    out = (
        spark.createDataFrame(rows, "id int, h array<bigint>")
        .select(
            make_minhash_udf(128)("h").alias("udf"),
            minhash_signature_sql(F.col("h"), 128).alias("col"),
        )
        .collect()
    )
    assert len(out) == len(rows)
    for r in out:
        assert r.udf is not None and r.udf == r.col


def test_exact_dedup(spark, docs):
    # null-text row 5 must survive with the flag false (null fingerprint
    # never equi-matches; the operator uses a null-safe left join)
    out = mark_exact_duplicates(docs, "doc_id", "text")
    flags = {r.doc_id: r.is_exact_dup for r in out.collect()}
    assert flags == {1: False, 2: True, 3: False, 4: False, 5: False, 6: False}


def test_lsh_marks_near_dups(spark, docs):
    d = with_minhash_signature(docs, text_col="text", num_perms=128)
    out = mark_lsh_duplicates(d, key_col="doc_id", sig_col="minhash_sig",
                              bands=16, rows_per_band=8)
    flags = {r.doc_id: r.is_duplicate for r in out.collect()}
    assert flags[1] is False         # canonical (min key) of the 1/2/3 cluster
    assert flags[2] is True          # exact dup
    assert flags[3] is True          # near dup (1-word change)
    assert flags[4] is False and flags[5] is False and flags[6] is False


def test_lsh_chained_cluster_resolves_to_root(spark):
    """Chained cluster {A,B} + {B,C} with no A-C bucket: C's raw
    canonical is B (itself a duplicate); pointer-jumping must resolve
    C's lineage to A, the cluster root."""
    rows = [
        (1, [1, 1, 9, 9]),   # shares band 0 with 2 only
        (2, [1, 1, 5, 5]),   # bridges: band 0 with 1, band 1 with 3
        (3, [7, 7, 5, 5]),   # shares band 1 with 2 only
    ]
    d = spark.createDataFrame(rows, "doc_id long, minhash_sig array<bigint>")
    out = mark_lsh_duplicates(
        d, key_col="doc_id", sig_col="minhash_sig", bands=2, rows_per_band=2,
        canonical_col="canon",
    ).collect()
    got = {r.doc_id: (r.is_duplicate, r.canon) for r in out}
    assert got[1] == (False, None)
    assert got[2] == (True, 1)
    assert got[3] == (True, 1), "chained canonical must resolve past B"


def test_lsh_full_fixpoint_resolves_long_chain(spark):
    """A chain of 8 docs (doc i shares exactly one band bucket with doc
    i+1) has canonical pointers i -> i-1: depth 7, beyond the default
    2-round pointer-jump (2^2 = 4 hops). resolve_hops='full' must
    iterate to the fixed point and name doc 1 as every member's root."""
    bands, rpb = 8, 2

    def sig(i: int) -> list[int]:
        out = []
        for j in range(bands):
            if j == i - 1 and i < 8:
                v = 1000 + i          # link to doc i+1
            elif j == i - 2:
                v = 1000 + (i - 1)    # link from doc i-1
            else:
                v = i * 100 + j       # unique filler
            out.extend([v] * rpb)
        return out

    d = spark.createDataFrame(
        [(i, sig(i)) for i in range(1, 9)],
        "doc_id long, minhash_sig array<bigint>",
    )

    full = mark_lsh_duplicates(
        d, key_col="doc_id", sig_col="minhash_sig", bands=bands,
        rows_per_band=rpb, canonical_col="canon", resolve_hops="full",
    ).collect()
    got = {r.doc_id: (r.is_duplicate, r.canon) for r in full}
    assert got[1] == (False, None)
    for i in range(2, 9):
        assert got[i] == (True, 1), f"doc {i} must resolve to the root"

    # premise guard: the default bounded resolution genuinely cannot
    # reach the root from the chain's tail (else this test proves nothing)
    bounded = mark_lsh_duplicates(
        d, key_col="doc_id", sig_col="minhash_sig", bands=bands,
        rows_per_band=rpb, canonical_col="canon", resolve_hops=2,
    ).collect()
    tail = {r.doc_id: r.canon for r in bounded}[8]
    assert tail == 4, tail


def test_simhash_null_and_identity(spark, docs):
    sim = docs.select(
        "doc_id", make_simhash_udf()(word_hex15_hashes_expr("text")).alias("sh")
    )
    vals = {r.doc_id: r.sh for r in sim.collect()}
    assert vals[1] == vals[2] and vals[1] is not None
    assert vals[5] is None
    # near-dup docs differ in few bits
    ham = bin(vals[1] ^ vals[3]).count("1")
    assert ham <= 12, ham


def test_simhash_marking_catches_near_dup(spark, docs):
    """End-to-end simhash dedup: exact dup + 1-word-change near dup both
    resolve to the min-key canonical; unrelated/short/null docs stay
    unmarked. tolerance high enough for the 1-word change (<= 12 bits
    per test_simhash_null_and_identity) but far below the random-doc
    distance (~30 bits)."""
    from gemproc2caom2_spark.operators.dedup import (
        mark_simhash_duplicates,
        with_simhash,
    )

    d = with_simhash(docs, text_col="text", out_col="simhash").where(
        F.col("simhash").isNotNull()
    )
    out = mark_simhash_duplicates(
        d, key_col="doc_id", sig_col="simhash", bits=60, bands=6,
        tolerance=12, canonical_col="canonical_id",
    )
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[1].is_duplicate is False
    assert rows[2].is_duplicate is True and rows[2].canonical_id == 1
    assert rows[3].is_duplicate is True and rows[3].canonical_id == 1
    assert rows[4].is_duplicate is False and rows[4].canonical_id is None
    assert rows[6].is_duplicate is False


def test_simhash_verification_rejects_band_collision(spark):
    """Two docs engineered to share a band value but differ in > tolerance
    bits must NOT be marked: signatures 0 and (high bits set) share the
    low band exactly, Hamming distance is 30."""
    from gemproc2caom2_spark.operators.dedup import mark_simhash_duplicates

    far = (1 << 60) - (1 << 30)  # top 30 bits set, low 30 zero
    d = spark.createDataFrame(
        [(1, 0), (2, far)], "doc_id long, simhash long"
    )
    verified = mark_simhash_duplicates(
        d, key_col="doc_id", sig_col="simhash", bits=60, bands=6, tolerance=5
    )
    assert [r.is_duplicate for r in verified.orderBy("doc_id").collect()] == [
        False,
        False,
    ]
    # without verification the shared low bands DO mark doc 2 — the
    # false positive the Hamming check exists to kill
    unverified = mark_simhash_duplicates(
        d, key_col="doc_id", sig_col="simhash", bits=60, bands=6, tolerance=None
    )
    assert {r.doc_id: r.is_duplicate for r in unverified.collect()}[2] is True


def test_jaccard_hot_shingle_capped(spark):
    """A shingle shared by more docs than max_doc_freq is dropped as
    boilerplate BEFORE pair emission — peak per-row pair-array size is
    bounded by the cap, never by the hot shingle's bucket."""
    hot = "the end of every page says this exact boilerplate line"
    rows = [(i, f"unique words number{i} item{i} " + hot) for i in range(12)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    # cap below the bucket size: the only shared shingles are the hot
    # boilerplate ones, so NO pairs survive
    none = ngram_jaccard_pairs(d, "doc_id", "text", k=3, threshold=0.1,
                               max_doc_freq=8).collect()
    assert none == []
    # cap above the bucket size: the 12 docs pair up via those shingles
    some = ngram_jaccard_pairs(d, "doc_id", "text", k=3, threshold=0.1,
                               max_doc_freq=64).collect()
    assert len(some) == 12 * 11 / 2


def test_jaccard_pairs(spark, docs):
    pairs = ngram_jaccard_pairs(
        docs.where("text is not null"), "doc_id", "text", k=2, threshold=0.4
    ).collect()
    got = {(r.key1, r.key2): r.jaccard for r in pairs}
    assert (1, 2) in got and got[(1, 2)] == 1.0
    assert (1, 3) in got and 0.4 <= got[(1, 3)] < 1.0
    assert all(k in ((1, 2), (1, 3), (2, 3)) for k in got)


def test_remove_boilerplate_lines(spark):
    """Cross-doc repeated lines vanish, in-order rebuild, all-boiler ->
    empty string, within-doc-only repeats survive (df counts DISTINCT
    docs)."""
    from gemproc2caom2_spark.operators.dedup import remove_boilerplate_lines

    footer = "copyright example corp all rights reserved"
    rows = [
        (1, f"unique alpha line\n{footer}\nunique beta line"),
        (2, f"{footer}\nanother unique thought"),
        (3, footer),                                # all boilerplate -> ''
        (4, "solo line\nsolo line\nsolo line"),     # within-doc only: kept
        (5, None),                                  # null text: excluded
        (6, "   \n  \n"),                           # no non-empty lines -> ''
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {
        r.doc_id: r.clean_text
        for r in remove_boilerplate_lines(df, min_df=2).collect()
    }
    assert out == {
        1: "unique alpha line\nunique beta line",
        2: "another unique thought",
        3: "",
        4: "solo line\nsolo line\nsolo line",
        6: "",
    }


def test_cluster_representatives_quality_argmax(spark):
    """Representative = (quality desc, key asc) argmax per cluster;
    singletons excluded; ties fall to the smaller key."""
    from pyspark.sql import functions as F

    from gemproc2caom2_spark.operators.dedup import select_cluster_representatives

    marked = spark.createDataFrame(
        [
            (1, None),  # cluster root (canonical null on the anchor)
            (2, 1),
            (3, 1),
            (10, None),  # singleton -> excluded
            (20, None),
            (21, 20),  # tie on quality with 20 -> 20 wins (key asc)
        ],
        "doc_id long, canonical_id long",
    )
    quality = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 7), (10, 100), (20, 4), (21, 4)],
        "doc_id long, n_chars long",
    )
    out = select_cluster_representatives(
        marked, quality, quality_col="n_chars"
    ).collect()
    by_id = {r.doc_id: r for r in out}
    assert 10 not in by_id
    assert by_id[2].is_representative and not by_id[1].is_representative
    assert by_id[2].cluster_id == 1 and by_id[2].cluster_size == 3
    assert by_id[20].is_representative and not by_id[21].is_representative
    reps = [r for r in out if r.is_representative]
    assert len(reps) == 2


@pytest.mark.parametrize("int_exact", [True, False])
def test_semantic_marking_flags_cosine_cluster(spark, int_exact):
    """mark_semantic_duplicates flags vectors whose exact cosine to
    their bucket min clears the threshold, keeps the min as canonical,
    and leaves dissimilar vectors unmarked — through both the integer
    and the sequential-float kernels."""
    from pyspark.sql import functions as F

    from gemproc2caom2_spark.operators.dedup import mark_semantic_duplicates

    rows = [
        (1, [10.0, 0.0, 0.0, 0.0]),
        (2, [20.0, 0.0, 0.0, 0.0]),   # cosine 1.0 with 1
        (3, [10.0, 1.0, 0.0, 0.0]),   # cosine ~0.995 with 1
        (4, [0.0, 0.0, 7.0, 0.0]),    # orthogonal
        (5, [0.0, 0.0, 0.0, 3.0]),    # orthogonal
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r.vec_id: r
        for r in mark_semantic_duplicates(
            df, threshold=0.99, bits=4, tables=8, dim=4, int_exact=int_exact
        ).collect()
    }
    assert out[2].is_duplicate and out[2].canonical_id == 1
    assert out[3].is_duplicate and out[3].canonical_id == 1
    assert not out[1].is_duplicate and out[1].canonical_id is None
    assert not out[4].is_duplicate
    assert not out[5].is_duplicate


def test_mark_span_overlap_semantics(spark):
    from gemproc2caom2_spark.operators.dedup import mark_span_overlap

    shared8 = "one two three four five six seven eight"
    rows = [
        (1, shared8 + " tail-a unique-a"),
        (2, "head-b " + shared8 + " tail-b"),
        (3, "totally different words with no overlap at all here ok"),
        (4, "too short"),  # < 8 tokens: no row
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in mark_span_overlap(df, k=8).collect()}
    assert set(out) == {1, 2, 3}
    # doc1: 10 tokens -> 3 spans; the leading 8-token span is verbatim
    # in doc2 => flagged
    assert out[1]["n_spans"] == 3 and out[1]["span_flagged"]
    assert out[1]["n_shared"] >= 1
    assert out[2]["n_spans"] == 3 and out[2]["span_flagged"]
    assert out[3]["n_spans"] == 3 and not out[3]["span_flagged"]
    assert out[3]["n_shared"] == 0
